package perfbench

import java.io.File
import java.nio.file.Files
import graft.{QueryRegistry, SparkEntry}

/** Registry queries run the way Bench runs them: built, planned and fully
  * materialized with `queryExecution.toRdd.count()` inside
  * `QueryRegistry.withExecConfs`, one after another. A pass runs each query
  * of [[SuiteWorkload.queries]] once, in list order, as Bench runs its
  * passes in a fixed order: the inputs are fixed, so the seed has no effect.
  * The row count of each query is checked against `suite_rows.json`. */
final class SuiteWorkload extends Workload {
  import SuiteWorkload._
  private var expected: Map[String, Long] = Map.empty
  val readKind = "query"
  def data = "sf0.001 harness tables; sf0.01 part and documents " +
    "(perfbench/data)"

  private def dir(ctx: Ctx, sf: String) =
    new File(ctx.bench, s"data/$sf").getPath

  def setup(ctx: Ctx): Unit = {
    expected = readExpected(new File(ctx.bench, "suite_rows.json"))
    // the per-session row-count statistics the scale-adaptive operators read
    queries.map(_.sf).distinct.foreach { sf =>
      val d = dir(ctx, sf)
      new File(d).list().filter(_.endsWith(".parquet")).sorted.foreach { f =>
        graft.Tables.cachedRowCount(ctx.spark, d, f.stripSuffix(".parquet"))
      }
    }
  }

  def warmUp(ctx: Ctx): Unit = pass(ctx, -1)

  def pass(ctx: Ctx, i: Int): Unit = queries.foreach(run(ctx, _))

  private def run(ctx: Ctx, q: Pick): Unit = {
    val spark = ctx.spark
    val d = dir(ctx, q.sf)
    ctx.rec.op("query", q.module) { phase =>
      QueryRegistry.withExecConfs(spark, q.name, d) {
        val df = phase("build")(SparkEntry.queries(q.name)(spark, d))
        phase("plan")(df.queryExecution.executedPlan)
        val n = phase("execute")(df.queryExecution.toRdd.count())
        ctx.rec.tracer.foreach(_.plan(ctx.rec.currentOp, df.queryExecution))
        n
      }
    }(n => n, n => expected.get(q.name) match {
      case Some(want) if want == n => None
      case Some(want) => Some(s"${q.name} returned $n rows, expected $want")
      case None => Some(s"${q.name} has no expected row count")
    })
    // checkpointed blocks a query leaves behind would otherwise pile up
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

object SuiteWorkload {
  /** One registry query, its operator module and the data it reads. */
  final case class Pick(name: String, module: String, sf: String)

  /** One query per module: its cheapest in a 4-core sf0.001 Bench pass, so
    * these measure each module's fixed per-query cost. */
  val fixedCost: Seq[Pick] = Seq(
    "q27_scan_pagination" -> "Relational",
    "q20_vector_topk" -> "VectorSearch",
    "q71_point_lookup_json" -> "DedupText",
    "q48_group_collect_sorted" -> "EventOps",
    "q62_multimodal_binary_meta" -> "MLPipelineOps",
    "q47_cost_model" -> "PipelineOps",
    "q91_grouping_sets" -> "SqlSurface",
    "q29_search_api_clamped" -> "SearchService",
    "q56_passjoin_edit_pairs" -> "EditDistanceJoin",
    "q127_weighted_priority_sample" -> "CurationOps",
    "q100_chunk_overlap" -> "AssemblyOps",
    "q114_corpus_diff" -> "CorpusOps",
    "q117_bpe_merge_training" -> "TokenizerOps",
    "q129_mg_heavy_hitters" -> "SketchOps",
    "q132_semdedup_prune" -> "ClusterOps",
    "q142_phrase_search_postings" -> "RetrievalOps",
    "q137_triangle_count" -> "GraphOps",
    "q152_compaction_binpack" -> "LayoutOps",
    "q147_gini_spend" -> "StatsOps").map { case (n, m) => Pick(n, m, "sf0.001") }

  /** Slow queries of a 4-core sf0.01 Bench pass that read only `part` or
    * `documents` and whose time is mostly inside Spark jobs (55% to 88% in
    * a traced run): the PassJoin k=2 self-join, HyperLogLog distinct
    * counts, MinHash LSH pairs and SimHash fingerprints. Kernel and shuffle
    * work shows here. */
  val compute: Seq[Pick] = Seq(
    Pick("q79_passjoin_k2_varlen", "EditDistanceJoin", "sf0.01"),
    Pick("q122_approx_distinct_hll", "SketchOps", "sf0.01"),
    Pick("q34_minhash_lsh_pairs", "DedupText", "sf0.01"),
    Pick("q36_simhash_fingerprint", "DedupText", "sf0.01"))

  val queries: Seq[Pick] = fixedCost ++ compute

  /** The 19 operator objects that register queries, in registry order. */
  val moduleNames: Seq[String] = fixedCost.map(_.module)

  private val Entry = """"([^"]+)"\s*:\s*(\d+)""".r

  def readExpected(f: File): Map[String, Long] =
    Entry.findAllMatchIn(Files.readString(f.toPath))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}
