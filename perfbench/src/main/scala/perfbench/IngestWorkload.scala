package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IndexedVectorStore

/** Writes beside reads on the persistent ANN store. Set-up builds the store
  * from the first [[IngestWorkload.Initial]] vectors of the seeded
  * `SyntheticEmbeddings` source. A pass starts from a copy of that store and
  * runs a fixed schedule: [[IngestWorkload.Steps]] times, append the next
  * [[IngestWorkload.Batch]] new vec_ids, then run
  * [[IngestWorkload.Probes]] probes over the grown store. The schedule does
  * not depend on speed, so every pass (and every commit) reads the same
  * store sizes. */
final class IngestWorkload(seed: Long) extends Workload {
  import IngestWorkload._
  private var base, store: File = _
  private var appendSeconds = 0.0
  private var appended = 0L
  private var baseFiles = 0
  private var endFiles = 0
  private var endBytes = 0L
  val readKind = "probe"
  def data = s"SyntheticEmbeddings dim $Dim: $Initial vectors, " +
    s"then $Steps appends of $Batch per pass"

  private def vectors(ctx: Ctx, lo: Long, hi: Long): DataFrame =
    ctx.spark.read.format("graft.sources.SyntheticEmbeddings")
      .option("rows", hi).option("dim", Dim).option("seed", seed)
      .option("numPartitions", ctx.cores).load()
      .filter(col("vec_id") >= lo)

  def setup(ctx: Ctx): Unit = {
    base = new File(ctx.work, "ingest-base")
    store = new File(ctx.work, "ingest-store")
    IndexedVectorStore.build(ctx.spark, vectors(ctx, 0, Initial), base.getPath)
    baseFiles = files(base).size
  }

  // warms the append and probe paths on a throwaway copy
  def warmUp(ctx: Ctx): Unit = {
    reset()
    append(ctx, 0)
    probes(ctx, new SplittableRandom(seed - 1), Initial + Batch)
  }

  def pass(ctx: Ctx, i: Int): Unit = {
    reset()
    val rng = new SplittableRandom(seed * 1000003L + i)
    (0 until Steps).foreach { step =>
      append(ctx, step)
      probes(ctx, rng, Initial + (step + 1L) * Batch)
    }
    verifyStore(ctx)
  }

  private def append(ctx: Ctx, step: Int): Unit = {
    val lo = Initial + step.toLong * Batch
    val (done, s) = Recorder.time {
      ctx.rec.op("append", "IndexedVectorStore") { phase =>
        phase("execute")(IndexedVectorStore.append(ctx.spark,
          vectors(ctx, lo, lo + Batch), store.getPath))
      }(_ => 0L, _ => None)
    }
    if (ctx.rec.measuring && done.isDefined) {
      appendSeconds += s; appended += Batch
    }
  }

  private def probes(ctx: Ctx, rng: SplittableRandom, size: Long): Unit =
    (0 until Probes).foreach { _ =>
      val q = rng.nextLong(size)
      val k = Ks(rng.nextInt(Ks.size))
      ctx.rec.op("probe", "IndexedVectorStore") { phase =>
        val df = phase("build")(
          IndexedVectorStore.search(ctx.spark, store.getPath, q, k))
        phase("plan")(df.queryExecution.executedPlan)
        val rows = phase("execute")(df.collect())
        ctx.rec.tracer.foreach(_.plan(ctx.rec.currentOp, df.queryExecution))
        rows
      }(_.length.toLong, rows => checkProbe(q, k, size,
        rows.toSeq.map(r => (r.getInt(0), r.getLong(1)))))
    }

  /** A probe returns at most k rows ranked 1..n, the query vector first,
    * ids the store holds, and cosine scores that never increase (equal
    * scores in vec_id order). */
  private def checkProbe(q: Long, k: Int, size: Long,
                         got: Seq[(Int, Long)]): Option[String] = {
    val ids = got.map(_._2)
    val scores = ids.map(id => cosine(vector(q), vector(id)))
    val ordered = scores.indices.drop(1).forall { i =>
      scores(i) < scores(i - 1) ||
        (scores(i) == scores(i - 1) && ids(i) > ids(i - 1))
    }
    if (got.isEmpty || got.size > k) Some(s"probe $q k=$k returned ${got.size} rows")
    else if (got.map(_._1) != (1 to got.size)) Some(s"probe $q ranks ${got.map(_._1)}")
    else if (ids.head != q) Some(s"probe $q ranked ${ids.head} first")
    else if (ids.exists(id => id < 0 || id >= size)) Some(s"probe $q returned ids outside the store")
    else if (!ordered) Some(s"probe $q scores out of order: $ids")
    else None
  }

  private def vector(id: Long): Array[Float] = Array.tabulate(Dim) { pos =>
    val h = mix(mix(seed ^ id) ^ pos)
    ((h >>> 40).toInt / 8388608.0f) - 1.0f
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    a.indices.foreach { i =>
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Every acknowledged append is readable: the store holds exactly the
    * initial vectors plus each appended batch, each vec_id once. */
  private def verifyStore(ctx: Ctx): Unit = {
    val want = Initial + Steps.toLong * Batch
    val r = ctx.spark.read.parquet(store.getPath)
      .agg(count(lit(1)), countDistinct(col("vec_id")), min(col("vec_id")),
        max(col("vec_id")))
      .head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    if (got != ((want, want, 0L, want - 1)))
      ctx.rec.fail(s"store holds (rows, distinct, min, max) = $got, want $want vectors")
    val fs = files(store)
    endFiles = fs.size
    endBytes = fs.map(Files.size).sum
  }

  private def reset(): Unit = {
    deleteTree(store.toPath)
    files(base).foreach { f =>
      val to = store.toPath.resolve(base.toPath.relativize(f))
      Files.createDirectories(to.getParent)
      Files.copy(f, to, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  override def extra(ctx: Ctx): Map[String, Double] = Map(
    "append_rows_per_s" -> appended / appendSeconds,
    "store_bytes_per_vec" -> endBytes.toDouble / (Initial + Steps * Batch))

  override def storageLayer(passes: Int): Map[String, Double] = Map(
    "files_written" -> (endFiles - baseFiles).toDouble,
    "store_files" -> endFiles.toDouble)
}

object IngestWorkload {
  val Dim = 64
  val Initial = 5000L
  val Batch = 1000
  val Steps = 3
  val Probes = 3
  private val Ks = Seq(5, 10, 20, 50)

  /** Regular files under `dir` (data files and commit markers alike). */
  def files(dir: File): Seq[Path] =
    if (!dir.exists) Nil
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** The source's vector for `id`: its splitmix64 elements, recomputed. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
