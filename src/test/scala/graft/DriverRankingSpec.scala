package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{DriverTopK, Retrieval, Similarity}

/** The serving entries rank on the driver ([[DriverTopK]]); the batch
  * queries rank with DataFrame windows. Pins the two equal where only
  * the tie order decides: equal scores, NaN, -0.0 against 0.0, and
  * strings whose UTF-16 and UTF-8 orders disagree. */
class DriverRankingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Ids in the order of a `row_number()` window over (score desc, key asc). */
  private def windowOrder(df: DataFrame): Seq[Any] =
    df.withColumn("r", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("score").desc, col("key").asc)))
      .orderBy("r").collect().map(_.get(0)).toSeq

  test("DriverTopK orders NaN, -0.0, equal scores and UTF-8 strings as a Spark window does") {
    val nan = Double.NaN
    val doubles = Seq(3L -> 0.0, 1L -> -0.0, 7L -> nan, 4L -> 1.0, 2L -> 0.0, 6L -> -0.0,
      5L -> nan, 8L -> -1.0, 0L -> 1.0)
    val spark4 = windowOrder(doubles.toDF("key", "score"))
    assert(DriverTopK(doubles, doubles.size)(_._2, _._1).map(_._1) == spark4)
    // NaN is greatest, -0.0 ties 0.0 and the id decides
    assert(spark4 == Seq(5L, 7L, 0L, 4L, 1L, 2L, 3L, 6L, 8L))
    assert(DriverTopK(doubles, 4)(_._2, _._1).map(_._1) == spark4.take(4))
    // U+1F600 is a surrogate pair in UTF-16 (D83D …), below U+FFFD; in
    // UTF-8 (F0 …) it is above U+FFFD (EF …)
    val strings = Seq("\uD83D\uDE00", "\uFFFD", "z", "\uFF5A", "a", "\uD83D\uDE01")
      .map(_ -> 0.5)
    val sparkS = windowOrder(strings.toDF("key", "score"))
    assert(DriverTopK(strings, strings.size)(_._2, _._1)(DriverTopK.utf8).map(_._1) == sparkS)
    assert(sparkS == Seq("a", "z", "\uFF5A", "\uFFFD", "\uD83D\uDE00", "\uD83D\uDE01"))
  }

  test("the driver lexical ranking equals lexIndexSearch on equal bscores and equal-qscore terms") {
    // query 0 ties 15 docs on bscore past the depth of 10; query 1 has
    // four terms where the 3rd and 4th tie on tf·N/df: p, q, then U+FFFD
    // before U+1F600 in UTF-8 order, so doc 33 serves and doc 32 does not
    val (smile, repl) = ("\uD83D\uDE00", "\uFFFD")
    val dir = writeMiniDocs(Seq(0L -> "x y", 1L -> s"p p q q $smile $repl") ++
      (10L until 25L).map(_ -> "x y") ++
      Seq(30L -> "p", 31L -> "q", 32L -> smile, 33L -> repl))
    val out = java.nio.file.Files.createTempDirectory("graft_lex_ties").toString
    Retrieval.writeLexIndex(spark, dir, out)
    val queries = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 2).select(col("doc_id").as("query_id"), col("text"))
    def rows(df: DataFrame) = df.select("query_id", "doc_id", "lex_rank", "bscore").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(r => (r._1, r._3))
    val driver = rows(Retrieval.lexIndexSearchText(spark, out, queries))
    assert(driver == rows(Retrieval.lexIndexSearch(spark, out)))
    assert(driver.filter(_._1 == 0L).map(_._2) == (10L until 20L))
    assert(driver.filter(_._1 == 1L).map(_._2).toSet == Set(30L, 31L, 33L))
  }

  test("the driver IVF ranking equals q37 on duplicate embeddings") {
    val rnd = new scala.util.Random(17)
    val base = (0L until 20L).map(i => i -> Seq.fill(16)(rnd.nextGaussian().toFloat))
    // 12 copies of query 0's vector and 8 of query 1's: equal cosines,
    // more of them than k, so the vec_id tie-break picks the neighbors
    val dupes = (20L until 32L).map(_ -> base(0)._2) ++ (32L until 40L).map(_ -> base(1)._2)
    val dir = writeMiniEmbeddings(base ++ dupes)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_ties").toString
    Similarity.writeIvfIndex(spark, dir, idx)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < Similarity.numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    def rows(df: DataFrame) = df.collect().map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    val driver = rows(Similarity.ivfIndexSearch(spark, idx, queries, Similarity.nProbe,
      Similarity.topK))
    assert(driver == rows(Similarity.q37_knn_ivf(spark, dir)))
    assert(driver.filter(_._1 == 0L).map(_._3) == (20L until 25L))
    assert(driver.filter(_._1 == 1L).map(_._3) == (32L until 37L))
  }

  test("rrfFuse equals the full-outer-join and window fusion on equal rrf across arms") {
    // docs 3 and 7 sum the same two reciprocals in swapped arms; doc 9
    // is lexical rank 1 only and doc 4 vector rank 1 only (both 1/61),
    // tied at the cutoff of 5, where the doc id keeps doc 4
    val lex = Seq((1L, 9L, 1L), (1L, 7L, 2L), (1L, 3L, 3L), (1L, 8L, 4L), (1L, 1L, 5L),
      (2L, 5L, 1L)).toDF("query_id", "doc_id", "lex_rank")
    val vec = Seq((1L, 1L, 4L), (1L, 2L, 3L), (1L, 3L, 7L), (1L, 4L, 8L), (1L, 5L, 1L),
      (2L, 1L, 6L)).toDF("query_id", "rank", "neighbor_id")
    val rrf = coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60.0) + col("vec_rank").cast("double")), lit(0.0))
    val v = vec.select(col("query_id").as("vq"), col("neighbor_id").as("vd"),
      col("rank").as("vec_rank"))
    val windows = lex.join(v, col("query_id") === col("vq") && col("doc_id") === col("vd"),
        "full_outer")
      .select(coalesce(col("query_id"), col("vq")).as("query_id"),
        coalesce(col("doc_id"), col("vd")).as("doc_id"), col("lex_rank"), col("vec_rank"))
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .where(col("rank") <= Similarity.topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        graft.etl.Star.round4(col("rrf")).as("rrf_score"))
      .orderBy("query_id", "rank")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val fused = Retrieval.rrfFuse(lex, vec)
    assert(rows(fused) == rows(windows))
    assert(fused.schema == windows.schema)
    assert(rows(fused).map(r => (r.head, r(2))) ==
      Seq(1L -> 3L, 1L -> 7L, 1L -> 8L, 1L -> 1L, 1L -> 4L, 2L -> 5L, 2L -> 6L))
  }
}
