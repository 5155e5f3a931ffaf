package perfbench

import graft.ops.{Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** hybrid_search: an interactive serving path. Set-up builds the persisted
  * BM25 postings index (`Retrieval.writeLexIndex`) and the IVF vector index
  * (`Similarity.writeIvfIndex`) from the program's test documents and
  * embeddings in `dir` (read only). One op is one user's free-text plus
  * vector query served by `Retrieval.hybridIndexSearch`; in a seeded one op
  * in [[eraseEvery]] the user first erases a few vector ids with
  * `Similarity.deleteIvfVectors`. Every op searches, so every run has the
  * same mix of work. No memo covers the serving path: every search reads
  * the index files. The seed
  * drives the requests: query words drawn from the documents' vocabulary,
  * query vectors near stored ones, and which ids are erased. */
final class HybridSearch(ctx: Ctx, dir: String) extends Workload {
  type Out = Array[Row]
  private val spark = ctx.spark
  private val lex = s"${ctx.work}/lex_index"
  private val ivf = s"${ctx.work}/ivf_index"
  val eraseEvery = 20
  val nprobe = 4
  val k = 5
  /** The first op of a fresh JVM is the slowest by far. */
  val warmupOps = 1
  /** One search per ~4.4 s of `--seconds` (an op's cost on 4 cores). */
  def opsPerRun(seconds: Int): Int = math.max(3, math.round(seconds / 4.4).toInt)

  private var vectorIds: IndexedSeq[Long] = IndexedSeq.empty
  private var vectors: IndexedSeq[Array[Float]] = IndexedSeq.empty
  private var vocabulary: IndexedSeq[String] = IndexedSeq.empty
  private var documents = 0L
  private val erased = mutable.Set.empty[Long]
  private var request: HybridSearch.Request = _
  private val probed = mutable.ArrayBuffer.empty[Int]
  private var buildS = 0.0

  def setup(): Unit = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
      .map(_.getString(0))
    documents = texts.length
    vocabulary = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty).distinct.sorted.toIndexedSeq
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id")
      .select("vec_id", "embedding").collect()
    vectorIds = rows.map(_.getLong(0)).toIndexedSeq
    vectors = rows.map(_.getSeq[Float](1).toArray).toIndexedSeq
    val t0 = System.nanoTime()
    Retrieval.writeLexIndex(spark, dir, lex)
    Similarity.writeIvfIndex(spark, dir, ivf)
    buildS = (System.nanoTime() - t0) / 1e9
  }

  /** The client's next request, from (seed, op index) alone; warm-up ops
    * erase nothing. */
  override def prepare(i: Int): Unit = {
    // SplittableRandom mixes its seed, so nearby seeds draw unrelated requests
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + i)
    val erase =
      if (i >= 0 && rnd.nextInt(eraseEvery) == 0)
        Seq.fill(1 + rnd.nextInt(3))(vectorIds(rnd.nextInt(vectorIds.size)))
      else Nil
    val words = Seq.fill(2 + rnd.nextInt(4))(vocabulary(rnd.nextInt(vocabulary.size)))
    val qv = vectors(rnd.nextInt(vectors.size)).map(x => x.toDouble + (rnd.nextDouble() - 0.5) / 50)
    request = HybridSearch.Request(erase, 1000000000L + i, words.mkString(" "), qv)
  }

  private def queryFrame: DataFrame =
    spark.createDataFrame(Seq((request.id, request.text, request.qv.toSeq)))
      .toDF("query_id", "text", "qv")

  def run(i: Int): Out = {
    if (request.erase.nonEmpty) {
      ctx.layer("similarity.erase")(Similarity.deleteIvfVectors(spark, ivf, request.erase))
      erased ++= request.erase
    }
    ctx.layer("retrieval.hybrid")(
      Retrieval.hybridIndexSearch(spark, lex, ivf, queryFrame).collect())
  }

  /** Ranks are 1..n, doc ids are distinct, and no erased id comes back from
    * the vector index (the lexical index has no erase; an erased id may
    * still match as text, but never with a vector rank). */
  def check(i: Int, rows: Out): Boolean = {
    val ranks = rows.map(_.getAs[Long]("rank")).toSeq
    val docs = rows.map(_.getAs[Long]("doc_id")).toSeq
    rows.nonEmpty && ranks == (1L to rows.length.toLong) && docs.distinct.size == docs.size &&
      rows.forall(r => r.isNullAt(r.fieldIndex("vec_rank")) || !erased(r.getAs[Long]("doc_id")))
  }

  override def probe(i: Int): Unit = {
    val q = queryFrame
    ctx.layer("retrieval.lex")(
      Retrieval.lexIndexSearchText(spark, lex, q.select("query_id", "text")).collect())
    ctx.layer("similarity.ivf")(
      Similarity.ivfIndexSearch(spark, ivf, q.select("query_id", "qv"), nprobe, k).collect())
    probed += i
  }

  private def files(d: String): Seq[java.io.File] =
    Option(new java.io.File(d).listFiles()).toSeq.flatten

  private def bytes(f: java.io.File): Long =
    if (f.isDirectory) files(f.getPath).map(bytes).sum else f.length

  override def layerMetrics(ops: Seq[Main.Op]): Seq[Metric] = {
    val t = ctx.tracer
    def read(layer: String) =
      Stats.mean(probed.map(i => ctx.counts(s"probe:$i/$layer").inputRecords.toDouble).toSeq)
    def medianOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      Metric("retrieval.lex_ms_p50", Stats.median(t.ms("retrieval.lex")), "ms", "op_p50_ms"),
      Metric("retrieval.postings_read_per_query", read("retrieval.lex"), "count", "op_p50_ms"),
      Metric("similarity.ivf_ms_p50", Stats.median(t.ms("similarity.ivf")), "ms", "op_p50_ms"),
      Metric("similarity.vectors_read_per_query", read("similarity.ivf"), "count", "op_p50_ms"),
      Metric("retrieval.hybrid_ms_p50", Stats.median(t.ms("retrieval.hybrid")), "ms", "op_tail_ms"),
      Metric("similarity.erase_ms_p50", medianOr0(t.ms("similarity.erase")), "ms", "op_tail_ms"),
      Metric("similarity.dv_files", files(s"$ivf/_dv").count(_.getName.endsWith(".parquet")).toDouble,
        "count", "op_tail_ms"))
  }

  override def info: Seq[Metric] = Seq(
    Metric("input.documents", documents.toDouble, "rows"),
    Metric("input.vectors", vectors.size.toDouble, "rows"),
    Metric("index.build_s", buildS, "s"),
    Metric("index.lex_bytes", bytes(new java.io.File(lex)).toDouble, "bytes"),
    Metric("index.ivf_bytes", bytes(new java.io.File(ivf)).toDouble, "bytes"))
}

object HybridSearch {
  /** One user's request: ids to erase first (usually none), then a query. */
  final case class Request(erase: Seq[Long], id: Long, text: String, qv: Array[Double])
}
