package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** KNN on vectors with a known answer; brute force and IVF agree when
  * every vector is its own centroid bucket neighborhood. */
class SimilaritySpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir = writeMiniEmbeddings(Seq(
    0L -> Seq(1f, 0f, 0f, 0f),
    1L -> Seq(0.99f, 0.14f, 0f, 0f), // nearest to 0
    2L -> Seq(0f, 1f, 0f, 0f),
    3L -> Seq(0f, 0.99f, 0.14f, 0f), // nearest to 2
    4L -> Seq(0f, 0f, 1f, 0f),
    5L -> Seq(0.7f, 0.7f, 0f, 0f)))

  test("q62: quantization hits +/-127 at the extremes and zero vectors stay zero") {
    val qdir = writeMiniEmbeddings(Seq(
      0L -> Seq(1f, -1f, 0.5f, 0f),
      1L -> Seq(0f, 0f, 0f, 0f))) // zero vector: scale 0, quantizes to zeros
    val got = Similarity.q62_embed_quantize(spark, qdir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("q_sum"), r.getAs[Long]("q_min"), r.getAs[Long]("q_max")))
      .toMap
    // v0: scale = 1/127 → q = (127, -127, 64, 0); round-half-up: 0.5*127 = 63.5 → 64
    assert(got(0L) == (64L, -127L, 127L))
    assert(got(1L) == (0L, 0L, 0L))
  }

  test("q36: brute-force top-1 neighbors are the geometrically nearest") {
    val top1 = Similarity.q36_knn_brute(spark, dir)
      .where("rank = 1").collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(top1(0L) == 1L)
    assert(top1(1L) == 0L)
    assert(top1(2L) == 3L)
    assert(top1(3L) == 2L)
  }

  test("q231: the ratio margin separates a true translation pair from a hub") {
    // labels are id % 3 (the fixture rule): src (label 0) = ids 0 and 3,
    // tgt (label 1) = ids 1/4/7/10 planted as the four axis vectors,
    // plus a label-2 DECOY copy of e1 (id 2) that must not enter the
    // target pool (its inclusion would change c2 and break the exact
    // margin asserts below).
    val d2 = writeMiniEmbeddings(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),          // src A: aligned with tgt 1
      3L -> Seq(0.5f, 0.5f, 0.5f, 0.5f),  // src B: a hub — cos 0.5 to ALL
      1L -> Seq(1f, 0f, 0f, 0f),
      4L -> Seq(0f, 1f, 0f, 0f),
      7L -> Seq(0f, 0f, 1f, 0f),
      10L -> Seq(0f, 0f, 0f, 1f),
      2L -> Seq(1f, 0f, 0f, 0f)))
    val got = Similarity.q231_margin_mining(spark, d2).collect()
      .map(r => r.getAs[Long]("src_id") ->
        ((r.getAs[Long]("tgt_id"), r.getAs[Double]("cos_top1"),
          r.getAs[Double]("margin"), r.getAs[Long]("accepted")))).toMap
    // src A: top1 cos 1.0 vs top-4 mean 0.25 → margin 4.0, accepted
    assert(got(0L) == ((1L, 1.0, 4.0, 1L)))
    // src B: equidistant from every target — top1 ties to the smallest
    // tgt_id, margin exactly 1.0 (its own cos IS the mean), rejected:
    // the hubness case an absolute-cosine threshold would wrongly mine
    assert(got(3L) == ((1L, 0.5, 1.0, 0L)))
  }

  test("q233: bucket-scoped mining finds the brute top-1; a short candidate panel yields NULL margin and accept 0") {
    // same fixture as the q231 spec: every vector is a centroid
    // (vec_id < 16), so buckets are exact. Axis targets 4/7/10 sit in
    // their own unprobed buckets; each src's probed buckets hold ONLY
    // target 1 — the IVF top-1 agrees with brute, and the 1-candidate
    // panel must surface as NULL margin with accept 0 (no silent
    // partial mean), not a fabricated accept.
    val d2 = writeMiniEmbeddings(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      3L -> Seq(0.5f, 0.5f, 0.5f, 0.5f),
      1L -> Seq(1f, 0f, 0f, 0f),
      4L -> Seq(0f, 1f, 0f, 0f),
      7L -> Seq(0f, 0f, 1f, 0f),
      10L -> Seq(0f, 0f, 0f, 1f),
      2L -> Seq(1f, 0f, 0f, 0f)))
    val got = Similarity.q233_margin_ivf(spark, d2).collect()
      .map(r => r.getAs[Long]("src_id") ->
        ((r.getAs[Long]("tgt_brute"), r.getAs[Long]("tgt_ivf"),
          r.getAs[Long]("top1_match"),
          Option(r.getAs[java.lang.Double]("margin_ivf")),
          r.getAs[Long]("accepted_ivf")))).toMap
    assert(got(0L) == ((1L, 1L, 1L, None, 0L)))
    assert(got(3L) == ((1L, 1L, 1L, None, 0L)))
  }

  test("q37: IVF returns the same top-1 when all vectors are centroids") {
    val ivf = Similarity.q37_knn_ivf(spark, dir)
      .where("rank = 1").collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(ivf(0L) == 1L && ivf(2L) == 3L)
  }

  test("q99: singleton buckets train to themselves — trained equals naive") {
    // every vector is its own centroid, so each Lloyd mean is the mean of
    // one member = the vector itself: the trained codebook must reproduce
    // the naive row exactly (pins the fold+divide identity end to end)
    val rows = Similarity.q99_ivf_trained_recall(spark, dir).collect()
      .map(r => r.getAs[String]("codebook") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_found"), r.getAs[Double]("recall"),
          r.getAs[Long]("max_bucket"), r.getAs[Long]("min_bucket")))
      .toMap
    assert(rows.keySet == Set("naive", "trained"))
    assert(rows("trained") == rows("naive"))
    assert(rows("naive")._4 == 1L && rows("naive")._5 == 1L) // singleton buckets
  }

  test("q99: a centroid emptied by a duplicate seed keeps its seed vector") {
    // seeds 0 and 1 are identical: every vector ties at cosine 1.0·sim and
    // the c_id tie-break sends ALL members to centroid 0, leaving centroid
    // 1 memberless — the seed-fallback path. The query must still produce
    // both well-formed rows. After training, centroid 0 is the member mean
    // (0.95, 0, 0, 0) — parallel to the kept seed (1, 0, 0, 0) but not
    // equal, so per-vector cosine ROUNDING decides each tie: the trained
    // buckets may stay together or split, but they must still partition
    // all 4 vectors between the two (≤ 2 buckets → max + min = 4, or one
    // bucket of 4). A NaN-poisoned ranking (the bug the fallback prevents)
    // would instead drop rows or leave a bucket empty.
    val ddir = writeMiniEmbeddings(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f),
      16L -> Seq(0.9f, 0.1f, 0f, 0f),
      17L -> Seq(0.9f, -0.1f, 0f, 0f)))
    val rows = Similarity.q99_ivf_trained_recall(spark, ddir).collect()
      .map(r => r.getAs[String]("codebook") ->
        (r.getAs[Long]("max_bucket"), r.getAs[Long]("min_bucket")))
      .toMap
    assert(rows("naive") == ((4L, 4L))) // one bucket holds all 4 vectors
    val (mx, mn) = rows("trained")
    assert(mx == 4L || mx + mn == 4L, s"trained buckets lost vectors: ($mx, $mn)")
  }

  test("lloydCodebook: quantized mean is exact on a 10^-6 grid and the sum is map-side partial") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // coordinates are exact multiples of 2^-k (and of 10^-6 after
    // quantization), so the quantized mean equals the exact mean and the
    // test pins the fold+divide identity of the production shape
    val all = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (16L, Seq(0.5, 0.25, -0.75, 0.0))).toDF("vec_id", "v")
    val assign = Seq((0L, 0L), (16L, 0L)).toDF("vec_id", "c_id")
    val seed = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0)).toDF("c_id", "cv", "cn")
    val code = graft.ops.Similarity.lloydCodebook(all, assign, seed)
    assert(code.select(col("cv")).as[Seq[Double]].head() ==
      Seq(0.75, 0.125, -0.375, 0.0))
    // the 100 TB claim: the per-(centroid, dim) sum is a mergeable partial
    // aggregation (map-side combined), not a per-centroid array fold
    val plan = code.queryExecution.sparkPlan.treeString
    assert(plan.contains("partial_sum"),
      s"expected a partial (map-side) sum in the Lloyd step plan:\n$plan")
  }

  test("q101: a separable corpus converges immediately and the loop short-circuits") {
    // seeds 0/1 sit on the cluster directions; members 16-19 are firmly
    // inside one cluster each, so the trained codebook never moves an
    // assignment: n_changed = 0 from iteration 1 and the fixed-point
    // short-circuit replays the same stats row for iterations 2 and 3.
    val cdir = writeMiniEmbeddings(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f),
      16L -> Seq(0.9f, 0.1f, 0f, 0f),
      17L -> Seq(0.95f, 0.05f, 0f, 0f),
      18L -> Seq(0.1f, 0.9f, 0f, 0f),
      19L -> Seq(0.05f, 0.95f, 0f, 0f)))
    val rows = graft.ops.Similarity.q101_lloyd_loop(spark, cdir).collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[Long]("n_changed"),
        r.getAs[Long]("max_bucket"), r.getAs[Long]("min_bucket")))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_._2 == 0L), s"expected a converged trajectory, got ${rows.toSeq}")
    assert(rows.forall(r => r._3 == 3L && r._4 == 3L)) // two balanced buckets
  }

  test("q108: seed vectors encode to their own codes with zero reconstruction error") {
    import org.apache.spark.sql.functions.col
    // The PQ codebook IS the 16 seed vectors' subvectors, so each seed
    // must encode to code k = its own id in every subspace with dist 0
    // (the identity that pins slicing, the argmin tie-break direction,
    // and the fixed-order error sum all at once). Real corpus: PQ
    // assumes the 64-dim embeddings contract.
    val rows = Similarity.q108_pq_encode(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") < 16).collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      Seq("c0", "c1", "c2", "c3").foreach(c =>
        assert(r.getAs[Long](c) == id, s"vec $id: $c != $id"))
      assert(r.getAs[Double]("recon_err") == 0.0, s"vec $id: nonzero err")
    }
  }

  test("q133: exact re-rank dominates the ADC arm per query") {
    import org.apache.spark.sql.functions.col
    // The refine theorem: any exact-top-5 neighbor present in the ADC
    // top-R shortlist survives an exact re-rank (whatever outranks it
    // there is globally closer, hence also exact-top-5), so per query
    // n_refined >= n_adc — a structural property of the refine stage,
    // not a lucky corpus. Real corpus: PQ assumes 64-dim embeddings.
    val rows = Similarity.q133_ivfpq_refine(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 10) // one row per query
    rows.foreach { r =>
      val (ne, na, nr) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_adc"),
        r.getAs[Long]("n_refined"))
      assert(ne == 5L)
      assert(nr >= na, s"query ${r.getAs[Long]("query_id")}: refine lost matches ($nr < $na)")
      assert(nr <= ne)
    }
  }

  test("pqIndexSearch on a full-corpus index serves q110's in-memory IVFPQ ranking pair for pair") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_parity").toString
    Similarity.writePqIndex(spark, sfDir, idx)
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < Similarity.numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"))).toSeq.sorted
    val served = pairs(Similarity.pqIndexSearch(spark, idx, queries,
      Similarity.nProbe, Similarity.topK))
    val inMemory = pairs(Similarity.adcTop(Similarity.ivfpqScores(spark, sfDir), Similarity.topK))
    assert(served.size == Similarity.numQueries * Similarity.topK)
    assert(served == inMemory)
  }

  test("q99: a bucket whose members sum to zero keeps its seed centroid") {
    // single centroid (id 0); member 16 is its exact negation, so the
    // Lloyd mean is the zero vector — cosine to it would be 0/0 for every
    // vector. The zero-norm fallback must keep the seed, making trained
    // identical to naive.
    val zdir = writeMiniEmbeddings(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      16L -> Seq(-1f, 0f, 0f, 0f)))
    val rows = Similarity.q99_ivf_trained_recall(spark, zdir).collect()
      .map(r => r.getAs[String]("codebook") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_found"), r.getAs[Double]("recall")))
      .toMap
    assert(rows("trained") == rows("naive"))
    assert(rows("naive") == ((1L, 1L, 1.0))) // query 0's only neighbor is 16
  }

  test("q116: power iteration recovers a planted dominant direction") {
    // variance planted along dim 3 (1-based): a +/-2 pair, with a much
    // smaller +/-0.1 pair along dim 7 that the 10^-6 quantization grinds
    // away by iteration 3. Mean is exactly zero, so centering is a
    // no-op; the all-ones start has components on both planted dims.
    def e(dim1: Int, x: Float): Seq[Float] =
      Seq.tabulate(64)(j => if (j == dim1 - 1) x else 0f)
    val pdir = writeMiniEmbeddings(Seq(
      0L -> e(3, 2f), 1L -> e(3, -2f), 2L -> e(7, 0.1f), 3L -> e(7, -0.1f)))
    val rows = Similarity.q116_pca_power(spark, pdir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("dim"),
        r.getAs[Double]("loading"), r.getAs[Double]("eigenvalue")))
    // the top direction is exactly e3 (canonicalized positive), with
    // Rayleigh eigenvalue Σ (v·e3)^2 = 4 + 4 = 8
    assert(rows.head == ((1L, 3L, 1.0, 8.0)))
    // every other loading quantized to zero; ties order by dim asc
    assert(rows.tail.map(_._2).toSeq == Seq(1L, 2L, 4L, 5L))
    assert(rows.tail.forall(r => r._3 == 0.0 && r._4 == 8.0))
    // q117: total scatter = 2·4 + 2·0.01 (0.1f is float-inexact, so
    // compare the round4'd expected from the actual float value);
    // explained = 8 / T
    val v = Similarity.q117_pca_variance(spark, pdir).head()
    val small = 0.1f.toDouble
    val t = math.floor((2 * 4.0 + 2 * small * small) * 10000 + 0.5) / 10000
    assert(v.getAs[Long]("n_vectors") == 4L)
    assert(v.getAs[Double]("eigenvalue") == 8.0)
    assert(v.getAs[Double]("total_var") == t)
    assert(math.abs(v.getAs[Double]("var_explained") - 8.0 / t) < 2e-4)
    // q118: deflation removes the dim-3 component exactly (lambda1 =
    // 8, u1 = e3), leaving the +/-0.1 pair's direction as component 2:
    // dim 7 with eigenvalue 2*(0.1f)^2 -> round4 = 0.02
    val rows2 = Similarity.q118_pca_deflate(spark, pdir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("dim"),
        r.getAs[Double]("loading"), r.getAs[Double]("eigenvalue")))
    assert(rows2.head == ((1L, 7L, 1.0, 0.02)))
    // the deflated component-1 axis survives only as a sub-round4
    // residual: every non-dominant loading rounds to 0.0 (their raw
    // ordering among themselves is quantization residue, not
    // semantics — the oracle computes the identical doubles, so the
    // gate still pins it)
    assert(rows2.tail.forall(r => r._3 == 0.0 && r._4 == 0.02))
  }

  test("q142: SemDeDup drop decisions equal an in-memory within-cluster brute force") {
    val sfDir = "/root/testdata/sf0.001"
    val got = Similarity.q142_semdedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("c_id"), r.getAs[Long]("kept")))
      .sortBy(_._1).toSeq
    // independent reference: assign every vector to its argmax seed
    // centroid, then within each cluster drop iff a lower-id member is
    // >= tau cosine-similar (the keep-lowest-id greedy, restated)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    val cents = vecs.filter(_._1 < 16)
    val assign = vecs.map { case (id, v) =>
      val c = cents.map { case (cid, cv) =>
        (cid, dot(v, cv) / (nrm(v) * nrm(cv)))
      }.maxBy { case (cid, cos) => (cos, -cid) }._1
      (id, c, v)
    }
    val expected = assign.map { case (id, c, v) =>
      val dropped = assign.exists { case (yid, yc, yv) =>
        yc == c && yid < id && dot(v, yv) / (nrm(v) * nrm(yv)) >= 0.45
      }
      (id, c, if (dropped) 0L else 1L)
    }.sortBy(_._1).toSeq
    assert(got == expected)
    // the corpus actually exercises both branches
    assert(got.exists(_._3 == 0L) && got.exists(_._3 == 1L))
    // every cluster keeps at least its lowest-id member
    got.groupBy(_._2).foreach { case (_, members) =>
      assert(members.minBy(_._1)._3 == 1L)
    }
  }

  test("q144/q145 agree: bucket-scoped hits sum to the recall numerator") {
    import org.apache.spark.sql.functions.sum
    val sfDir = "/root/testdata/sf0.001"
    // q145's n_found counts (train, test) pairs ≥ τ sharing a bucket —
    // exactly the pairs q144 distributes over test docs as n_hits
    val hits = Similarity.q144_semantic_contamination(spark, sfDir)
      .agg(sum("n_hits")).head().getLong(0)
    val r = Similarity.q145_semcon_recall(spark, sfDir).head()
    assert(r.getAs[Long]("n_found") == hits)
    assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_exact"))
  }

  test("q154: a planted off-manifold vector is the top outlier; seeds are excluded") {
    // 16 basis-vector centroids (ids 0..15); data vectors aligned with a
    // centroid score cos = 1, the planted uniform vector (id 99) scores
    // 1/4 against EVERY centroid — the lowest possible max here — and
    // ties to bucket 0 by c_id asc
    val dim = 16
    def basis(i: Int): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    val uniform = Seq.fill(dim)(0.25f) // unit norm: 16 · 0.25² = 1
    val edir = writeMiniEmbeddings(
      (0 until 16).map(i => (i.toLong, basis(i))) ++
        Seq((20L, basis(3)), (21L, basis(7)), (99L, uniform)))
    val got = Similarity.q154_embedding_outliers(spark, edir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("bucket"),
        r.getAs[Double]("best_cos")))
    assert(got.head == ((99L, 0L, 0.25)))
    assert(got.map(_._1).toSet == Set(20L, 21L, 99L)) // no codebook seed leaks in
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)
  }

  test("mmrGreedy: a near-duplicate of the first pick loses to a farther, novel candidate") {
    // relevance alone would rank B (0.95) second; B is a near-copy of
    // the first pick A (cos 0.99), so at lambda = 0.5 its MMR score
    // 0.95 - 0.495 = 0.455 loses to the novel C: 0.60 - 0.5*0.10 = 0.55
    val rels = Seq(1L -> 0.97, 2L -> 0.95, 3L -> 0.60)
    val cos = Map(
      (1L, 2L) -> 0.99, (2L, 1L) -> 0.99,
      (1L, 3L) -> 0.10, (3L, 1L) -> 0.10,
      (2L, 3L) -> 0.12, (3L, 2L) -> 0.12)
    val got = Similarity.mmrGreedy(rels, cos, 3, 0.5)
    assert(got.map(_._2) == Seq(1L, 3L, 2L), s"got selection order ${got.map(_._2)}")
    // scores follow the formula exactly (pure IEEE: rel - 0.5 * maxSim)
    assert(got(0)._4 == 0.97)
    assert(got(1)._4 == 0.60 - 0.5 * 0.10)
    assert(got(2)._4 == 0.95 - 0.5 * 0.99)
    // tie-break: equal scores resolve to the smaller id
    val tied = Similarity.mmrGreedy(Seq(5L -> 0.8, 4L -> 0.8), Map(
      (4L, 5L) -> 0.0, (5L, 4L) -> 0.0), 2, 0.5)
    assert(tied.map(_._2) == Seq(4L, 5L))
    // k larger than the pool: selection stops at pool exhaustion
    assert(Similarity.mmrGreedy(Seq(1L -> 0.5), Map.empty, 5, 0.5).size == 1)
  }

  test("covMomentsAcc (q182's partition fold) equals the exploded-cell merge law on the real corpus") {
    import org.apache.spark.sql.functions._
    // one definition guarded two ways: the DuckDB gate pins the VALUES,
    // this pins the r14 accumulator promotion against the streaming
    // twin's exploded-cell artifact row-for-row (PROBE_COV_r14.txt records
    // the same identity at widths 64/256/512 on synthetic vectors)
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val fold = m(Similarity.covMomentsAcc(vecs))
    val exploded = m(Similarity.covMoments(Similarity.covCellsOf(vecs)))
    assert(fold == exploded)
    assert(fold.nonEmpty)
  }

  test("q269: hard negatives rank within other labels; violations compare to the best positive") {
    // label layout (id % 3): query 0 and vec 3 are label 0; 1/4 label 1;
    // 2/5 label 2. Planted geometry: the best positive scores cos 0.8,
    // negatives score ~0.99995 (violates), 0.832 (violates), 0.707
    // (clean), -1 (out of top-3).
    val dir = writeMiniEmbeddings(Seq(
      (0L, Seq(1f, 0f)), (3L, Seq(0.8f, 0.6f)),
      (1L, Seq(1f, 0.01f)), (4L, Seq(0.5f, 0.5f)),
      (2L, Seq(0.6f, 0.4f)), (5L, Seq(-1f, 0f))))
    val rows = graft.ops.Similarity.q269_hard_negatives(spark, dir).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("violates"))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 4L, 0L)), s"$rows")
  }

  test("q276: identical prefixes fool the truncated ranking; identical vectors ace it") {
    // 20-dim vectors; queries 0 and 1 (vec_id < 10 are queries).
    // Candidates 11/12 share the SAME first 16 dims and differ only in
    // the tail: full ranking separates them, truncated cannot (tie →
    // id order), so for query 0 the top-1 choice flips and recall@2
    // over {11,12} stays 10000 only because BOTH sit in the top-2.
    // Candidate 13 is query 1's exact duplicate → truncated and full
    // agree on it at rank 1.
    def v(head: Seq[Float], tail: Seq[Float]) = head ++ tail
    val h = Seq.fill(16)(1f)
    val dir = writeMiniEmbeddings(Seq(
      (0L, v(h, Seq(1f, 0f, 0f, 0f))),
      (1L, v(Seq.fill(16)(-1f), Seq(0f, 1f, 0f, 0f))),
      (11L, v(h, Seq(1f, 0f, 0f, 0f))),          // full cos 1 with q0
      (12L, v(h, Seq(-1f, 0f, 0f, 0f))),         // full cos < 1, same prefix
      (13L, v(Seq.fill(16)(-1f), Seq(0f, 1f, 0f, 0f)))))
    val got = graft.ops.Similarity.q276_matryoshka_recall(spark, dir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_full"), r.getAs[Long]("overlap"),
          r.getAs[Long]("recall_bp")))).toMap
    // every candidate set here is smaller than topK, so n_full < 5 and
    // the denominators are the honest realized sizes
    assert(got.contains(0L) && got.contains(1L))
    val (n0, o0, r0) = got(0L)
    assert(o0 <= n0 && r0 == o0 * 10000L / n0)
    // query 1: its exact duplicate ranks first under both metrics
    val (n1, o1, r1) = got(1L)
    assert(o1 >= 1L && r1 == o1 * 10000L / n1)
  }
}
