package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops.{Retrieval, Similarity, TextCore}

/** The persisted-index serving path: hybridIndexSearch resolves each
  * index epoch once per session (LsmIndex's epoch memo), collects the
  * two pruned scans and ranks everything else on the driver. Pins its
  * freshness under every index mutation, its Spark-job budget, and its
  * parity with the executor-side definitions. */
class HybridServingSpec extends AnyFunSuite with SparkTestBase {
  /** A seeded 400-doc corpus over a 120-word vocabulary and 400 random
    * 16-dim embeddings: docs in one dir, vectors in the other. */
  private lazy val (docsDir, embsDir, texts, vectors) = {
    val rnd = new scala.util.Random(301)
    val texts = (0L until 400L).map(i =>
      i -> Seq.fill(6 + rnd.nextInt(15))(s"w${rnd.nextInt(120)}").mkString(" "))
    val vectors = (0L until 400L).map(i => i -> Seq.fill(16)(rnd.nextGaussian().toFloat))
    (writeMiniDocs(texts), writeMiniEmbeddings(vectors), texts.toMap, vectors.toMap)
  }

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def embedding(id: Long): Seq[Double] = vectors(id).map(_.toDouble + 0.001)

  private def docWords(id: Long, n: Int): String = texts(id).split(" ").take(n).mkString(" ")

  /** Every row of the three serving calls, bscore and cosine included, so
    * a stale corpus constant or a stale vector set shows. */
  private def serve(ss: SparkSession, lex: String, ivf: String,
      q: Seq[(Long, String, Seq[Double])]): Seq[Set[String]] = {
    val qf = ss.createDataFrame(q).toDF("query_id", "text", "qv")
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).toSet
    Seq(rows(Retrieval.hybridIndexSearch(ss, lex, ivf, qf)),
      rows(Retrieval.lexIndexSearchText(ss, lex, qf.select("query_id", "text"))),
      rows(Similarity.ivfIndexSearch(ss, ivf, qf.select("query_id", "qv"), 4, 5)))
  }

  test("hybrid search after append, rebuild, delete-and-rebuild or erasure equals a fresh session's") {
    val lex = tmp("graft_fresh_lex")
    val ivf = tmp("graft_fresh_ivf")
    val bucket = TextCore.idBucket(col("doc_id"))
    val vbucket = TextCore.idBucket(col("vec_id"))
    Retrieval.writeLexIndex(spark, docsDir, lex, bucket < 50)
    Similarity.writeIvfIndex(spark, embsDir, ivf, vbucket < 50)
    val q = Seq((1000L, docWords(5, 4), embedding(3)), (1001L, docWords(40, 3), embedding(77)))
    var last = serve(spark, lex, ivf, q)
    def step(what: String)(mutate: => Unit): Unit = {
      mutate
      val now = serve(spark, lex, ivf, q)
      assert(now == serve(spark.newSession(), lex, ivf, q), s"stale serve after $what")
      assert(now != last, s"$what changed nothing the serve returns")
      last = now
    }
    // deleted and rebuilt: the same epoch dir and gen listing come back,
    // only the marker's commit instant tells the epochs apart
    step("lex delete-and-rebuild") {
      graft.etl.SnapshotLog.deleteRecursively(new java.io.File(lex))
      Retrieval.writeLexIndex(spark, docsDir, lex, bucket < 30)
    }
    step("appendLexIndex")(Retrieval.appendLexIndex(spark, docsDir, lex, bucket >= 30))
    step("appendIvfIndex")(Similarity.appendIvfIndex(spark, embsDir, ivf, vbucket >= 50))
    step("lex rebuild")(Retrieval.writeLexIndex(spark, docsDir, lex, bucket < 70))
    step("ivf rebuild")(Similarity.writeIvfIndex(spark, embsDir, ivf, vbucket < 70))
    val erased = serve(spark, lex, ivf, q)(2).map(_.split('|')(2).toLong)
    step("deleteIvfVectors")(Similarity.deleteIvfVectors(spark, ivf, erased.toSeq))
  }

  test("a warm hybrid search: no schema inference, 2 jobs; an erasure adds none") {
    val lex = tmp("graft_budget_lex")
    val ivf = tmp("graft_budget_ivf")
    Retrieval.writeLexIndex(spark, docsDir, lex)
    Similarity.writeIvfIndex(spark, embsDir, ivf)
    val (text, qv) = (docWords(5, 4), embedding(3))
    def search(id: Long) = spark.createDataFrame(Seq((id, text, qv))).toDF("query_id", "text", "qv")
    Retrieval.hybridIndexSearch(spark, lex, ivf, search(1L)).collect()
    val (q2, q3) = (search(2L), search(3L))
    val warm = jobsOf(Retrieval.hybridIndexSearch(spark, lex, ivf, q2).collect())
    assert(!warm.exists(_.startsWith("parquet at")), s"schema inference: $warm")
    // the two pruned scans; everything else ranks on the driver
    assert(warm.size == 2, s"${warm.size} jobs: ${warm.mkString("\n")}")
    Similarity.deleteIvfVectors(spark, ivf, Seq(7L))
    val erased = jobsOf(Retrieval.hybridIndexSearch(spark, lex, ivf, q3).collect())
    assert(!erased.exists(_.startsWith("parquet at")), s"schema inference: $erased")
    assert(erased.size <= warm.size, s"${erased.size} jobs: ${erased.mkString("\n")}")
  }

  test("an empty erasure writes nothing and leaves a warm vector search's job count unchanged") {
    val ivf = tmp("graft_empty_erase")
    Similarity.writeIvfIndex(spark, embsDir, ivf)
    def search(id: Long) = Similarity.ivfIndexSearch(spark, ivf,
      spark.createDataFrame(Seq((id, embedding(3)))).toDF("query_id", "qv"), 4, 5)
      .collect().map(_.toSeq.tail).toSeq
    val first = search(1L)
    val warm = jobsOf(search(2L))
    val files = fileListing(ivf)
    Similarity.deleteIvfVectors(spark, ivf, Nil)
    assert(fileListing(ivf) == files)
    val after = jobsOf(search(3L))
    assert(after.size == warm.size, s"${after.size} jobs after, ${warm.size} before")
    assert(search(4L) == first)
  }

  test("a doc erased from both indexes serves as a rebuild without it, bscore included") {
    val (lex, ivf) = (tmp("graft_erase_lex"), tmp("graft_erase_ivf"))
    val (lexRb, ivfRb) = (tmp("graft_erase_lex_rb"), tmp("graft_erase_ivf_rb"))
    val victim = 5L
    Retrieval.writeLexIndex(spark, docsDir, lex)
    Similarity.writeIvfIndex(spark, embsDir, ivf)
    val q = Seq((1000L, docWords(victim, 4), embedding(victim)), (1001L, docWords(40, 3), embedding(77)))
    // the victim is served by all three calls before the erase (its id
    // is field 2 of a hybrid row, 1 of a lexical one, 2 of a vector one)
    assert(serve(spark, lex, ivf, q).zip(Seq(2, 1, 2)).forall { case (rows, i) =>
      rows.exists(_.split('|')(i) == victim.toString)
    })
    Retrieval.deleteLexDocs(spark, lex, Seq(victim))
    Similarity.deleteIvfVectors(spark, ivf, Seq(victim))
    Retrieval.writeLexIndex(spark, docsDir, lexRb, col("doc_id") =!= victim)
    Similarity.writeIvfIndex(spark, embsDir, ivfRb, col("vec_id") =!= victim)
    val rebuilt = serve(spark, lexRb, ivfRb, q)
    assert(serve(spark, lex, ivf, q) == rebuilt)
    // a repeated erase subtracts nothing more; compaction keeps the result
    Retrieval.deleteLexDocs(spark, lex, Seq(victim))
    assert(serve(spark, lex, ivf, q) == rebuilt)
    Retrieval.compactLexIndex(spark, lex)
    assert(serve(spark, lex, ivf, q) == rebuilt)
    assert(serve(spark.newSession(), lex, ivf, q) == rebuilt)
  }

  test("a warm PQ or IVF index search runs no schema inference and a pinned job count") {
    val sfDir = "/root/testdata/sf0.001"
    val (pq, ivf) = (tmp("graft_pq_budget"), tmp("graft_ivf_budget"))
    Similarity.writePqIndex(spark, sfDir, pq)
    Similarity.writeIvfIndex(spark, sfDir, ivf)
    def q(id: Long) = spark.createDataFrame(Seq((id, Seq.tabulate(64)(i => math.sin(i + id)))))
      .toDF("query_id", "qv")
    Similarity.pqIndexSearch(spark, pq, q(1L), 4, 5).collect()
    Similarity.ivfIndexSearch(spark, ivf, q(1L), 4, 5).collect()
    val warmPq = jobsOf(Similarity.pqIndexSearch(spark, pq, q(2L), 4, 5).collect())
    val warmIvf = jobsOf(Similarity.ivfIndexSearch(spark, ivf, q(2L), 4, 5).collect())
    assert(!warmPq.exists(_.startsWith("parquet at")), s"schema inference: $warmPq")
    // a change to either plan shows here: PQ runs its DataFrame plan,
    // IVF one probed-bucket scan ranked on the driver
    assert(warmPq.size == 6, s"${warmPq.size} jobs: ${warmPq.mkString("\n")}")
    assert(warmIvf.size == 1, s"${warmIvf.size} jobs: ${warmIvf.mkString("\n")}")
  }

  test("driver-ranked IVF probes equal rankAgainstScored's for every q37 query") {
    val ivf = tmp("graft_probe_parity")
    Similarity.writeIvfIndex(spark, embsDir, ivf)
    val queries = spark.read.parquet(s"$embsDir/embeddings.parquet")
      .where(col("vec_id") < Similarity.numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    val driver = Similarity.rankProbes(spark, ivf, queries, 16).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("c_id")).toSeq
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2) }
    val spark16 = Similarity.centroidRanks(spark, embsDir, 16)
      .where(col("vec_id") < Similarity.numQueries).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rn"), r.getAs[Long]("c_id"))).toSeq
      .groupBy(_._1).map { case (q, ps) => q -> ps.sortBy(_._2).map(_._3) }
    assert(driver.size == Similarity.numQueries)
    assert(driver == spark16)
  }

  test("a hybrid query whose text has no terms returns the vector arm alone") {
    val lex = tmp("graft_blank_lex")
    val ivf = tmp("graft_blank_ivf")
    Retrieval.writeLexIndex(spark, docsDir, lex)
    Similarity.writeIvfIndex(spark, embsDir, ivf)
    val qf = spark.createDataFrame(Seq((9L, "   ", embedding(3)))).toDF("query_id", "text", "qv")
    val rows = Retrieval.hybridIndexSearch(spark, lex, ivf, qf).collect()
    assert(rows.nonEmpty && rows.forall(_.isNullAt(rows.head.fieldIndex("lex_rank"))))
    val vec = Similarity.ivfIndexSearch(spark, ivf, qf.select("query_id", "qv"),
      4, 5).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == vec.map(_.getAs[Long]("neighbor_id")).toSeq)
    assert(rows.map(_.getAs[Long]("vec_rank")).toSeq == vec.map(_.getAs[Long]("rank")).toSeq)
  }
}
