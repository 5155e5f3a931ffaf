package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Retrieval

/** Behavioral + plan-shape pins for the hybrid retrieval family (q160). */
class RetrievalSpec extends AnyFunSuite with SparkTestBase {

  test("BM25: rare-term tf ranks above a single common-term match; no-term docs absent") {
    // doc 0 is a query (doc_id < 10): its terms are {apple, zebra}.
    // doc 10 uses zebra 3×, doc 11 apple 1× (same dl), doc 12 shares no
    // term — BM25 must rank 10 over 11 and never surface 12.
    val dir = writeMiniDocs(Seq(
      0L -> "zebra apple",
      10L -> "zebra zebra zebra",
      11L -> "apple banana cherry",
      12L -> "banana cherry durian"))
    val lex = Retrieval.lexTop(spark, dir)
      .where(col("query_id") === 0L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("lex_rank")).toMap
    assert(lex.contains(10L) && lex.contains(11L))
    assert(lex(10L) < lex(11L),
      s"3x rare 'zebra' (doc 10) must outrank 1x 'apple' (doc 11): $lex")
    assert(!lex.contains(12L), "doc with no query term must not score")
    assert(!lex.contains(0L), "the query doc itself is excluded")
  }

  test("q239: the known-item panel finds its planted near-dup at rank 1; distractor-only ids stay out") {
    // docs 20/21 are near-dups (100 shared words, one edited — J >= 0.5
    // so they form the q34 pair set and BOTH enter the known-item
    // panel); 30..34 are distractors with disjoint vocabulary and no
    // partner, so they must NOT appear as queries. Each panel query's
    // top BM25 hit is its twin: first_rank 1, rr_bp 10000.
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = writeMiniDocs(Seq(
      20L -> words(100),
      21L -> ((1 to 99).map(i => s"w$i") :+ "edited").mkString(" "),
      30L -> "alpha beta gamma delta", 31L -> "epsilon zeta eta theta",
      32L -> "iota kappa lambda mu", 33L -> "nu xi omicron pi",
      34L -> "rho sigma tau upsilon"))
    val got = Retrieval.q239_retrieval_mrr(spark, dir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_rel"), Option(r.getAs[java.lang.Long]("first_rank")),
          r.getAs[Long]("rr_bp")))).toMap
    assert(got.keySet == Set(20L, 21L), s"panel must be the pair participants: $got")
    assert(got(20L) == ((1L, Some(1L: java.lang.Long), 10000L)), s"got $got")
    assert(got(21L) == ((1L, Some(1L: java.lang.Long), 10000L)), s"got $got")
  }

  test("lexTop plan: every join is broadcast-equi AND every broadcast is query-bounded") {
    // the scale contract: billions of postings join a query-set-sized
    // term table as BROADCAST equi-joins — a SortMergeJoin here would
    // shuffle the postings per query set; a CartesianProduct is never
    // legitimate. (The one-row stats frame legitimately rides a
    // broadcast nested loop — kilobyte side.) AND — the r11 advice fix —
    // no broadcast side may be vocabulary-sized: every BroadcastHashJoin
    // build side must derive from the query set (the doc_id <
    // numQueries filter appears in its subtree), so the full df table
    // can never reach an exchange again.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val plan = Retrieval.lexTop(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    assert(plan.collect { case j: CartesianProductExec => j }.isEmpty, "cartesian")
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, "SMJ")
    assert(plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty, "SHJ")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"expected the qtf/semi-df/postings joins broadcast, got ${bhj.size}")
    // each broadcast join is EQUI (has join keys)
    assert(bhj.forall(_.leftKeys.nonEmpty), "broadcast join without equi keys")
    // and each build side is query-bounded: its subtree filters on the
    // query-doc id range (vocabulary-sized frames have no such filter)
    bhj.foreach { j =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val s = build.toString
      assert(s.contains(s"< ${graft.ops.Similarity.numQueries}"),
        s"broadcast build side not query-bounded:\n$s")
    }
  }

  /** Every parquet file under `root` whose path contains the `gen=<g>`
    * partition dir, keyed by tb-relative path (the layout is
    * `postings/tb=<b>/gen=<g>/part-*.parquet`). */
  private def genMd5s(root: java.io.File, gen: Long): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(root)
      .filter(f => f.getName.endsWith(".parquet") &&
        f.getPath.contains(s"gen=$gen"))
      .map { f =>
        s"${f.getParentFile.getParentFile.getName}/${f.getName}" ->
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
      }.toMap
  }

  test("lex index LSM: append never rewrites base postings; served == in-memory arm") {
    import org.apache.spark.sql.functions.col
    val dir = writeMiniDocs((0L until 20L).map { i =>
      i -> s"zebra apple shared w$i x$i common words here"
    })
    val out = java.nio.file.Files.createTempDirectory("graft_lexidx").toString
    Retrieval.writeLexIndex(spark, dir, out, col("doc_id") % 2 === 0)
    val gen0 = genMd5s(new java.io.File(s"$out/postings"), 0L)
    assert(gen0.nonEmpty)
    Retrieval.appendLexIndex(spark, dir, out, col("doc_id") % 2 === 1)
    // LSM contract: base generation byte-untouched by the append
    assert(genMd5s(new java.io.File(s"$out/postings"), 0L) == gen0)
    assert(genMd5s(new java.io.File(s"$out/postings"), 1L).nonEmpty)
    // served-from-files equals the in-memory arm over the full corpus:
    // df/avgdl/scores are bit-identical because the additive sidecar
    // sums to the same longs and bm25Top is the shared definition
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "lex_rank", "bscore").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(Retrieval.lexIndexSearch(spark, out)) ==
      rows(Retrieval.lexTop(spark, dir)))
  }

  test("free-text query path equals the corpus-doc path on corpus queries") {
    // lexIndexSearchText tokenizes the query TEXT with the shared
    // norm/split chain; querying with the corpus docs' own text must
    // reproduce lexIndexSearch exactly (same tf, same df, same ranks)
    import org.apache.spark.sql.functions.col
    val dir = writeMiniDocs((0L until 20L).map { i =>
      i -> s"zebra apple shared w$i x$i common words here"
    })
    val out = java.nio.file.Files.createTempDirectory("graft_lexidx_t").toString
    Retrieval.writeLexIndex(spark, dir, out)
    val queries = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "lex_rank", "bscore").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(Retrieval.lexIndexSearchText(spark, out, queries)) ==
      rows(Retrieval.lexIndexSearch(spark, out)))
  }

  test("lex index compaction folds generations; counts and results unchanged") {
    import org.apache.spark.sql.functions.col
    val dir = writeMiniDocs((0L until 20L).map { i =>
      i -> s"zebra apple shared w$i x$i common words here"
    })
    val out = java.nio.file.Files.createTempDirectory("graft_lexidx_c").toString
    Retrieval.writeLexIndex(spark, dir, out, col("doc_id") % 2 === 0)
    Retrieval.appendLexIndex(spark, dir, out, col("doc_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "lex_rank", "bscore").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val before = rows(Retrieval.lexIndexSearch(spark, out))
    Retrieval.compactLexIndex(spark, out)
    assert(genMd5s(new java.io.File(s"$out/postings"), 1L).isEmpty)
    assert(genMd5s(new java.io.File(s"$out/postings"), 0L).nonEmpty)
    assert(rows(Retrieval.lexIndexSearch(spark, out)) == before)
  }

  test("a free-text search reads only its terms' bucket directories") {
    // the IVF "nprobe directories" story on the lexical artifact: the
    // query's terms map to ≤ |terms| of the 64 tb= partitions, pushed
    // down as a static partition filter — file-level-pinned like
    // PartitionPruningSpec's IVF case
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val dir = writeMiniDocs((0L until 20L).map { i =>
      i -> s"zebra apple shared w$i x$i common words here"
    })
    val out = java.nio.file.Files.createTempDirectory("graft_lexidx_p").toString
    Retrieval.writeLexIndex(spark, dir, out)
    val q = Seq((100L, "zebra apple")).toDF("query_id", "text")
    val expectedTbs = spark.range(1)
      .select(Retrieval.termBucket(org.apache.spark.sql.functions.lit("zebra")),
        Retrieval.termBucket(org.apache.spark.sql.functions.lit("apple")))
      .collect()(0) match { case r => Set(r.getLong(0), r.getLong(1)) }
    val pruned = Retrieval.prunedPostings(spark, out, Retrieval.queryTf(spark, q))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "no partition filter pushed")
    val dirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files)
      .map(_.getPath.getParent.getParent.getName).distinct.sorted
    assert(dirs.toSet == expectedTbs.map(b => s"tb=$b"),
      s"scan touched ${dirs.mkString(",")} expected tb in $expectedTbs")
    // and the pruned serve still finds the corpus matches
    assert(Retrieval.lexIndexSearchText(spark, out, q).count() > 0)
  }

  test("q170: PRF expansion surfaces a vocabulary-mismatch doc plain BM25 cannot") {
    // query doc 0 says {aa, bb}. Doc 10 bridges: it matches the query
    // AND uses 'cc' heavily. Doc 11 uses ONLY 'cc' — zero original-term
    // overlap, invisible to the base ranking; after feedback mining
    // promotes 'cc', the expanded query must surface it.
    val dir = writeMiniDocs(Seq(
      0L -> "aa bb",
      10L -> "aa bb cc cc cc",
      11L -> "cc cc cc dd",
      12L -> "ee ff gg hh"))
    val base = Retrieval.lexTop(spark, dir)
      .where(col("query_id") === 0L).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(base.contains(10L) && !base.contains(11L),
      s"base BM25 must rank the bridge doc and miss the mismatch doc: $base")
    val prf = Retrieval.q170_prf_expansion(spark, dir)
      .where(col("query_id") === 0L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    assert(prf.contains(11L),
      s"PRF must surface the cc-only doc via the mined expansion term: $prf")
    assert(prf.contains(10L), "the bridge doc must survive the rescoring")
    assert(!prf.contains(0L), "self-match stays excluded after expansion")
  }

  test("q160: fused output is well-formed on real data") {
    val rows = Retrieval.q160_hybrid_bm25_rrf(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq == (1L to ranks.length), s"query $q ranks not dense")
      // rrf monotone non-increasing along rank
      val scores = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("rrf_score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q rrf not monotone: ${scores.mkString(",")}")
      // every fused row was surfaced by at least one arm, and no self-match
      rs.foreach { r =>
        assert(!(r.isNullAt(r.fieldIndex("lex_rank")) &&
          r.isNullAt(r.fieldIndex("vec_rank"))))
        assert(r.getAs[Long]("doc_id") != q)
      }
    }
  }

  test("q245: nDCG agrees with q239 on hits/misses and normalizes to [0, 10000]") {
    val sf = "/root/testdata/sf0.001"
    val ndcg = SparkEntry.queries("q245_retrieval_ndcg")(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r).toMap
    val mrr = SparkEntry.queries("q239_retrieval_mrr")(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r).toMap
    // same panel, same ranking: a query has dcg > 0 iff q239 found a hit
    assert(ndcg.keySet == mrr.keySet, "the two evals must grade the same panel")
    ndcg.foreach { case (q, r) =>
      val hit = !mrr(q).isNullAt(mrr(q).fieldIndex("first_rank"))
      assert((r.getAs[Long]("dcg_x") > 0) == hit, s"query $q hit/miss disagreement")
      val bp = r.getAs[Long]("ndcg_bp")
      assert(bp >= 0 && bp <= 10000, s"query $q ndcg_bp out of range: $bp")
      assert(r.getAs[Long]("n_strong") <= r.getAs[Long]("n_rel"))
      // a single-partner query whose partner ranked FIRST is a perfect page
      if (hit && r.getAs[Long]("n_rel") == 1 &&
          mrr(q).getAs[Long]("first_rank") == 1L)
        assert(bp == 10000L, s"query $q: rank-1 single-partner page must be ideal")
    }
    // the panel must contain at least one hit and grade strictly between
    // pages (all-equal outputs would make the eval vacuous)
    assert(ndcg.values.exists(_.getAs[Long]("dcg_x") > 0))
  }

  test("q343: the sweep's production cell equals q239's gated mean") {
    val dir = "/root/testdata/sf0.001"
    // the (120, 75) cell scores with the constants q239 ships — its
    // MRR must be exactly the truncating mean of q239's per-query
    // rr_bp rows (misses already 0 there); any drift means the sweep
    // and the gauge no longer share a scoring definition
    val q239 = graft.ops.Retrieval.q239_retrieval_mrr(spark, dir).collect()
    val expected = q239.map(_.getAs[Long]("rr_bp")).sum / q239.length
    val cell = graft.ops.Retrieval.q343_bm25_sweep(spark, dir).collect()
      .find(r => r.getAs[Long]("k1_x100") == 120L &&
        r.getAs[Long]("b_x100") == 75L).get
    assert(cell.getAs[Long]("n_queries") == q239.length.toLong)
    assert(cell.getAs[Long]("mrr_bp") == expected)
  }
}
