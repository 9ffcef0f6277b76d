package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.SearchService

/** The corpus the search workload serves: an sf0.1-shaped `documents`
  * (5,000 rows) and `embeddings` (2,000 rows, dim 64) pair, generated from
  * the seed. Besides the five harness languages it holds a rare language
  * with fewer documents than most requests ask for, and 5% of the vectors
  * are exact copies of an earlier one, so score ties occur and their order
  * (doc_id ascending) is checked. */
final class SearchCorpus(seed: Long) {
  import SearchCorpus._

  private val rng = new SplittableRandom(seed)
  val langOf: Array[String] = Array.tabulate(Docs) { _ =>
    val u = rng.nextDouble()
    if (u < 0.41) "en" else Langs(1 + rng.nextInt(Langs.size - 1))
  }
  // the rare language sits on embedded documents only, so it has exactly
  // RareDocs candidates
  (0 until RareDocs).foreach(i => langOf(i * (Vecs / RareDocs) + 7) = RareLang)
  val text: Array[String] = Array.tabulate(Docs) { _ =>
    Seq.fill(8 + rng.nextInt(72))(Words(rng.nextInt(Words.size))).mkString(" ")
  }
  val vecs: Array[Array[Float]] = {
    val v = new Array[Array[Float]](Vecs)
    (0 until Vecs).foreach { i =>
      v(i) =
        if (i > 0 && rng.nextDouble() < 0.05) v(rng.nextInt(i))
        else Array.fill(Dim)((rng.nextDouble() * 2 - 1).toFloat * 0.3f)
    }
    v
  }
  val labels: Array[Int] = Array.fill(Vecs)(rng.nextInt(10))
  def source(doc: Int): String = s"src${doc % 20}"

  def write(spark: SparkSession, dir: File): Unit = {
    val docs = (0 until Docs).map { i =>
      Row(i.toLong, text(i), langOf(i), source(i), text(i).length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(docs: _*), DocSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embs = (0 until Vecs).map { i =>
      Row(i.toLong, vecs(i).toSeq, labels(i))
    }
    spark.createDataFrame(java.util.Arrays.asList(embs: _*), EmbSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The search semantics, computed directly: lang pre-filter, limit clamp
    * to [1, 100], top 3k by dot product, cosine re-rank to k; ties on the
    * score go to the lower doc_id. Both products accumulate in double in
    * element order, as the engine's kernels do. */
  def reference(r: SearchRequest): Seq[(Long, Long, String, String, String)] = {
    val k = math.max(1, math.min(r.limit, 100))
    val q = vecs(r.queryVecId.toInt)
    def dot(a: Array[Float]) = {
      var s = 0.0; var i = 0
      while (i < Dim) { s += a(i).toDouble * q(i).toDouble; i += 1 }
      s
    }
    def cosine(a: Array[Float]) = {
      var d, na, nb = 0.0; var i = 0
      while (i < Dim) {
        val x = a(i).toDouble; val y = q(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byScoreThenId: Ordering[(Double, Int)] =
      Ordering.by[(Double, Int), (Double, Int)](x => (-x._1, x._2))
    val cands = (0 until Vecs).filter(i => r.langs.contains(langOf(i)))
    val coarse = cands.map(i => (dot(vecs(i)), i)).sorted(byScoreThenId)
      .take(3 * k)
    val top = coarse.map { case (_, i) => (cosine(vecs(i)), i) }
      .sorted(byScoreThenId).take(k)
    top.zipWithIndex.map { case ((_, i), rank) =>
      (rank + 1L, i.toLong, langOf(i), source(i), text(i).take(50))
    }
  }
}

object SearchCorpus {
  val Docs = 5000
  val Vecs = 2000
  val Dim = 64
  val Langs = Seq("en", "de", "es", "fr", "zh")
  val RareLang = "la"
  val RareDocs = 8
  /** A language no document has: the filter leaves nothing. */
  val EmptyLang = "xx"
  // a few non-ASCII (single UTF-16 unit) words keep snippets honest
  val Words: IndexedSeq[String] = ("spark vector query filter scan join " +
    "sort merge window batch stream table row column index shard film " +
    "movie genre review rating director actor plot scene café naïve " +
    "über crème 数据 向量").split(" ").toIndexedSeq

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}

/** One request: `edge` names the edge case it stands for, or "none". */
final case class SearchRequest(queryVecId: Long, limit: Int,
                               langs: Seq[String], edge: String)

object SearchRequest {
  val PassSize = 25
  /** Edge requests per pass, one of each, at seeded positions. Their share
    * (4% each, 16% together) is an assumption of the benchmark, not a
    * measured traffic mix. */
  val Edges = Seq("empty_filter", "limit_nonpositive", "limit_over_max",
    "fewer_than_k")
  /** The reference's request defaults (config.py, search.py), which
    * `SearchService.search` takes as its own: limit 20, langs [en, fr]. */
  val DefaultLimit: Int = SearchService.Config.DefaultLimit
  val DefaultLangs = Seq("en", "fr")

  /** Pass `pass` of the request stream for `seed`. Plain requests use the
    * defaults; only their query vector is drawn. */
  def pass(seed: Long, pass: Int): Seq[SearchRequest] = {
    val rng = new SplittableRandom(seed * 1000003L + pass)
    def query() = rng.nextInt(SearchCorpus.Vecs).toLong
    val plain = Seq.fill(PassSize - Edges.size) {
      SearchRequest(query(), DefaultLimit, DefaultLangs, "none")
    }
    val edges = Edges.map {
      case e @ "empty_filter" =>
        SearchRequest(query(), DefaultLimit, Seq(SearchCorpus.EmptyLang), e)
      case e @ "limit_nonpositive" =>
        SearchRequest(query(), -rng.nextInt(3), DefaultLangs, e)
      case e @ "limit_over_max" =>
        SearchRequest(query(), 101 + rng.nextInt(900), DefaultLangs, e)
      case e =>
        SearchRequest(query(), DefaultLimit, Seq(SearchCorpus.RareLang), e)
    }
    // seeded positions for the edge requests
    edges.foldLeft(plain) { (xs, e) =>
      val at = rng.nextInt(xs.size + 1)
      (xs.take(at) :+ e) ++ xs.drop(at)
    }
  }
}

/** The paper's request, `SearchService.search` then `collect()`, one client
  * in a closed loop. Each response is checked against the corpus's
  * reference answer. */
final class SearchWorkload(seed: Long) extends Workload {
  import SearchCorpus.{Dim, Docs, Vecs}
  private val corpus = new SearchCorpus(seed)
  private var dir: File = _
  val readKind = "search"
  def data = s"generated documents ($Docs rows) and embeddings ($Vecs x $Dim)"

  def setup(ctx: Ctx): Unit = {
    dir = new File(ctx.work, "search-data")
    corpus.write(ctx.spark, dir)
  }

  // the warm-up pass comes from a stream the timed passes never use
  def warmUp(ctx: Ctx): Unit =
    SearchRequest.pass(seed, -1).foreach(request(ctx, _))

  def pass(ctx: Ctx, i: Int): Unit =
    SearchRequest.pass(seed, i).foreach(request(ctx, _))

  private def request(ctx: Ctx, r: SearchRequest): Unit =
    ctx.rec.op("search", "SearchService") { phase =>
      val df = phase("build") {
        SearchService.search(ctx.spark, dir.getPath, r.queryVecId, r.limit,
          r.langs)
      }
      phase("plan")(df.queryExecution.executedPlan)
      val rows = phase("execute")(df.collect())
      ctx.rec.tracer.foreach(_.plan(ctx.rec.currentOp, df.queryExecution))
      rows
    }(_.length.toLong, rows => {
      val got = rows.toSeq.map(x => (x.getLong(0), x.getLong(1),
        x.getString(2), x.getString(3), x.getString(4)))
      val want = corpus.reference(r)
      if (got == want) None
      else Some(s"$r: got ${got.take(3)}... (${got.size} rows), " +
        s"want ${want.take(3)}... (${want.size} rows)")
    })
}
