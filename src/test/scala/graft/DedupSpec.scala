package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

/** Dedup family on a controlled corpus: one exact duplicate pair, one
  * near-duplicate (single word changed), one unrelated document. */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private lazy val dir = writeMiniDocs(Seq(
    0L -> base,
    1L -> base.replace("dog", "cat"), // 3 of 11 shingles change → J = 8/14
    2L -> "completely unrelated content about spark query planning internals",
    3L -> base)) // exact duplicate of 0

  test("q31: exact dedup groups the identical pair") {
    val got = Dedup.q31_dedup_exact(spark, dir).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(got.count(_._2 == 2L) == 1)
    assert(got.contains((0L, 2L))) // min doc_id survives
    assert(got.map(_._2).sum == 4L)
  }

  test("q32 (MinHash-LSH) and q34 (inverted index) agree on J >= 0.5 pairs") {
    val lsh = Dedup.q32_dedup_minhash_lsh(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val inv = Dedup.q34_dedup_ngram_jaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(inv.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(inv.find(p => (p._1, p._2) == ((0L, 3L))).get._3 == 1.0)
    assert(math.abs(inv.find(p => (p._1, p._2) == ((0L, 1L))).get._3 - 8.0 / 14.0) < 1e-12)
    // identical signatures → LSH recall is total on the exact pair, and on
    // this corpus the banding catches the near pair too
    assert(lsh.toSet == inv.toSet)
  }

  test("compiled SimHash64/DotProduct match their declarative twins") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextCore
    import graft.functions.VectorOps
    val withHashes = TextCore.docShingles(spark, dir)
      .withColumn("hs", transform(col("shingles"), sh => md5(sh)))
    val sims = withHashes.select(
      VectorOps.simhash64(col("hs")).as("fast"),
      TextCore.simhash64(col("hs")).as("spec"))
      .collect()
    sims.foreach(r => assert(r.getString(0) == r.getString(1)))

    val sigs = withHashes.select(
      VectorOps.minhashSignature(col("sh_md5"), 12).as("fast"),
      array((0 until 12).map(k => TextCore.minhash(col("sh_md5"), k)): _*).as("spec"))
      .collect()
    sigs.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))

    import spark.implicits._
    val vs = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0))).toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("spec"))
      .collect().head
    assert(vs.getDouble(0) == vs.getDouble(1))
  }

  test("q33: simhash Hamming 0 for the exact duplicate pair") {
    val got = Dedup.q33_dedup_simhash(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(got.contains((0L, 3L, 0L)))
  }

  test("SignLshSignature matches the declarative HOF spec bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val planes: Seq[Seq[Option[Double]]] =
      Seq(Seq(Some(1.0), Some(-2.0), Some(0.5)), Seq(Some(-0.1), Some(0.1), Some(0.0)),
        Seq(Some(0.0), Some(0.0), Some(0.0)))
    val rows = Seq(
      (Seq[Option[Double]](Some(1.0), Some(1.0), Some(1.0)), planes),
      (Seq[Option[Double]](Some(-1.0), Some(0.0), Some(2.0)), planes),
      (Seq[Option[Double]](Some(1.0), None, Some(1.0)), planes), // null element → all-'0'
      (Seq[Option[Double]](Some(0.0), Some(0.0), Some(0.0)), planes))
      .toDF("v", "planes")
      .select(
        VectorOps.signLshSignature(col("v"), col("planes")).as("fast"),
        array_join(transform(col("planes"), p =>
          when(aggregate(zip_with(col("v"), p, (x, y) => x * y),
            lit(0.0), (a, x) => a + x) > 0, "1").otherwise("0")), "").as("spec"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("connectedComponents of an empty pair list is empty (and converges)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("dedup family yields empty results, not errors, on a single-doc corpus") {
    val dir1 = writeMiniDocs(Seq((0L, "only one document here nothing matches it")))
    Seq(Dedup.q32_dedup_minhash_lsh, Dedup.q33_dedup_simhash,
      Dedup.q34_dedup_ngram_jaccard).foreach { q =>
      assert(q(spark, dir1).count() == 0)
    }
    assert(Dedup.q31_dedup_exact(spark, dir1).count() == 1) // its own group
  }

  test("connectedComponents crosses a diameter-4 chain") {
    import spark.implicits._
    // chain 1-2-3-4-5 + disjoint pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    // Property check of the large-star/small-star rewrite: on arbitrary
    // pair lists (dense blobs, bridges, self-loops, isolated pairs) the
    // labels must equal the ground-truth component minima from a
    // sequential union-find.
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 40 + trial * 20
      val pairs = Seq.fill(n) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong; (a, b)
      }.filter { case (a, b) => a != b }
      // union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      assert(got == want, s"trial $trial (n=$n)")
    }
  }

  test("span index LSM: append never rewrites base files; merge = recompute; compaction folds") {
    import spark.implicits._
    def md5s(dir: java.io.File): Map[String, String] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map { f =>
          f.getName -> java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    val ws = (1 to 12).map(i => s"w$i")
    // doc 1 and doc 2 (the batch) share their first 8-token window: the
    // hash is UNIQUE in each side alone and duplicated only after merge
    val base = Seq((1L, ws.take(9)), (3L, ws.drop(3))).toDF("doc_id", "words")
    val batch = Seq((2L, ws.take(8))).toDF("doc_id", "words")
    val out = java.nio.file.Files.createTempDirectory("graft_spanidx").toString
    Dedup.writeSpanIndex(base, out)
    // the base build lives under the committed epoch dir (r14 layout:
    // <out>/v=E/gen=N); resolve gen dirs by walking, not by fixed path
    def genDir(gen: Long): Option[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Seq(f) ++ Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq.empty
      walk(new java.io.File(out)).find(_.getName == s"gen=$gen")
    }
    val gen0 = md5s(genDir(0L).get)
    Dedup.appendSpanIndex(batch, out)
    // LSM contract: the base generation is byte-untouched by the append
    assert(md5s(genDir(0L).get) == gen0)
    assert(genDir(1L).exists(_.isDirectory))
    def counts(): Map[String, Long] = Dedup.readSpanIndex(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = counts()
    // merge-on-read equals a from-scratch rebuild over base ∪ batch
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_spanidx2").toString
    Dedup.writeSpanIndex(base.unionByName(batch), rebuilt)
    assert(merged == Dedup.readSpanIndex(spark, rebuilt).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    // the planted cross-generation dup: unique per side, dup after merge
    val sharedH = java.security.MessageDigest.getInstance("MD5")
      .digest(ws.take(8).mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(merged(sharedH) == 2L)
    // major compaction folds generations without changing the counts
    Dedup.compactSpanIndex(spark, out)
    assert(counts() == merged)
    assert(genDir(1L).isEmpty)
  }

  test("connectedComponents: 200-node chain converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    // Worst case for plain min-label propagation: a path graph of diameter
    // n-1 (199 propagation rounds). Large-star/small-star must finish in
    // ≤ 2·log₂(n) = 16 rounds. Ids are shuffled so the chain order carries
    // no accidental alignment with the id order.
    val n = 200
    val perm = new scala.util.Random(42).shuffle((1L to n.toLong).toVector)
    val pairs = perm.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val got = labels.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 1L), "all nodes must label to the component min (1)")
    val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n.toLong))
    assert(rounds <= bound, s"took $rounds rounds, bound is $bound (≈2·log2($n))")
  }

  test("fuzzyNamePairs: planted typo found within its block, cross-block typo honestly missed") {
    import spark.implicits._
    // (name, block, n_rows): two near names sharing the noun block, one
    // typo'd INSIDE the blocking token (lands in block "widgit" — the
    // documented blocking miss), one far name in the shared block.
    val names = Seq(
      ("blue widget", "widget", 3L),
      ("blu widget", "widget", 1L),   // dist 1 from "blue widget"
      ("large widget", "widget", 2L), // dist > 2 from both blues
      ("blue widgit", "widgit", 1L))  // typo in the block key itself
      .toDF("name", "block", "n_rows")
    val got = Dedup.fuzzyNamePairs(names, maxDist = 2).collect()
      .map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"), r.getAs[Long]("dist")))
    assert(got.toSeq == Seq(("blu widget", "blue widget", 1L)),
      s"expected exactly the in-block near pair, got ${got.toSeq}")
    // the cross-block near-duplicate ("blue widget"/"blue widgit", dist 1)
    // is NOT in the result — the blocking trade the scaladoc documents
    assert(!got.exists(p => p._1 == "blue widget" && p._2 == "blue widgit"))
  }

  test("fuzzyNamePairs bounded levenshtein + length pre-filter lose no pair vs the plain form") {
    import org.apache.spark.sql.functions._
    // r18: the within-block grid now length-pre-filters and runs the
    // thresholded levenshtein — parity against the unbounded original
    // over the REAL part vocabulary (boundary dists 0/2/3 included)
    val names = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("block", element_at(split(col("name"), " "), 2))
    val a = names.select(col("block"), col("name").as("name_a"),
      col("n_rows").as("n_a"))
    val b = names.select(col("block"), col("name").as("name_b"),
      col("n_rows").as("n_b"))
    val plain = a.join(b, Seq("block"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("dist") <= 2)
      .select("name_a", "name_b", "dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val bounded = Dedup.fuzzyNamePairs(names, maxDist = 2)
      .select("name_a", "name_b", "dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(bounded == plain)
    assert(bounded.nonEmpty)
  }

  test("q237: the sweep's production point replays q63; candidates grow with band count") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q237_lsh_band_sweep")(spark, sf).collect()
      .map(r => r.getAs[Long]("n_bands") ->
        ((r.getAs[Long]("n_cand"), r.getAs[Long]("n_exact"),
          r.getAs[Long]("n_found"), r.getAs[Double]("recall")))).toMap
    assert(rows.keySet == Set(2L, 4L, 6L, 12L))
    // the (4 x 3) sweep point IS the production configuration: its
    // exact/found/recall must equal the gated q63 on the same corpus
    // (one band-key definition — bandStructs — or this breaks)
    val q63 = SparkEntry.queries("q63_minhash_recall")(spark, sf).head()
    assert(rows(4L)._2 == q63.getAs[Long]("n_exact"))
    assert(rows(4L)._3 == q63.getAs[Long]("n_found"))
    assert(rows(4L)._4 == q63.getAs[Double]("recall"))
    // more bands of fewer rows = a looser filter: candidate count is
    // nondecreasing in band count, and so is recall (12x1 candidates
    // include every pair sharing ANY single minhash)
    val byBands = Seq(2L, 4L, 6L, 12L).map(rows)
    assert(byBands.map(_._1) == byBands.map(_._1).sorted, s"n_cand not monotone: $byBands")
    assert(byBands.map(_._4) == byBands.map(_._4).sorted, s"recall not monotone: $byBands")
  }

  test("q217: noun-block recall misses exactly the noun-mutated plants; the two-pass union recovers all") {
    val r = SparkEntry.queries("q217_er_blocking_recall")(spark, "/root/testdata/sf0.001").head()
    val (n, f1, f2) = (r.getAs[Long]("n_planted"),
      r.getAs[Long]("found_noun_block"), r.getAs[Long]("found_two_pass"))
    assert(n > 0)
    // by construction: adjective-mutated variants share the noun block
    // (found by pass 1), noun-mutated ones cannot be (the documented
    // miss) — so pass-1 recall is strictly partial unless the md5
    // parity happened to mutate no nouns, and the two-pass union is
    // total because every variant shares its unmutated token
    assert(f1 < n, s"expected a measured cross-block miss, got $f1/$n")
    assert(f2 == n, s"two-pass blocking must recover every planted pair: $f2/$n")
    assert(r.getAs[Long]("recall_two_pass_bp") == 10000L)
  }

  test("q255: explanations are truly shared, rarest-first, and cover every pair") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q255_match_explanation")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    val pairs = SparkEntry.queries("q34_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every gated pair gets at least one explanation row (J >= 0.5
    // guarantees shared shingles), and no row names a non-pair
    val byPair = rows.groupBy(r => (r._1, r._2))
    assert(byPair.keySet == pairs)
    val shingleSets = graft.ops.TextCore.docShingles(spark, sf)
      .select(col("doc_id"), col("shingles")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val dfMap = shingleSets.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    byPair.foreach { case ((a, b), rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length), s"($a,$b) ranks")
      assert(sorted.length <= 3)
      sorted.foreach { case (_, _, _, sh, df) =>
        assert(shingleSets(a).contains(sh) && shingleSets(b).contains(sh),
          s"($a,$b): '$sh' not shared")
        assert(df == dfMap(sh), s"($a,$b): df of '$sh'")
      }
      // rarest-first: df non-decreasing along rank, and rank 1 is the
      // global minimum df over ALL shared shingles of the pair
      val dfs = sorted.map(_._5)
      assert(dfs.toSeq == dfs.sorted.toSeq, s"($a,$b) not rarest-first")
      val minShared = (shingleSets(a) & shingleSets(b)).map(dfMap).min
      assert(dfs.head == minShared, s"($a,$b) rank-1 df")
    }
  }

  test("q253: the S-curve replays per pair; theory tracks q237's measured recall") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q253_lsh_scurve")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // driver replay: the same fixed-order arithmetic per pair
    val js = SparkEntry.queries("q34_dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => r.getAs[Long]("inter").toDouble / r.getAs[Long]("uni").toDouble)
    def chain(x: Double, n: Int): Double = (2 to n).foldLeft(x)((a, _) => a * x)
    Seq(2, 4, 6, 12).foreach { b =>
      val r = 12 / b
      val sum = js.map { j =>
        math.floor((1.0 - chain(1.0 - chain(j, r), b)) * 1e6 + 0.5).toLong
      }.sum
      val (n, s, bp) = got(b.toLong)
      assert(n == js.length.toLong && s == sum && bp == sum / (n * 100), s"b=$b")
    }
    // monotone: more bands of fewer rows can only loosen the match
    val exp = Seq(2L, 4L, 6L, 12L).map(got(_)._3)
    assert(exp == exp.sorted, s"expected recall not monotone: $exp")
    // at (12, 1) every J >= 0.5 pair has P >= 1 - 2^-12: essentially 1
    assert(got(12L)._3 >= 9990L)
    // theory vs practice: each config's MEASURED recall (q237) sits
    // near its expected value — the banding behaves like MinHash. The
    // expectation is over random hash draws and k = 12 is small, so
    // the tolerance is honest, not tight.
    val observed = SparkEntry.queries("q237_lsh_band_sweep")(spark, sf).collect()
      .map(r => r.getAs[Long]("n_bands") ->
        (r.getAs[Long]("n_found") * 10000 / math.max(r.getAs[Long]("n_exact"), 1L)))
      .toMap
    Seq(2L, 4L, 6L, 12L).foreach { b =>
      assert(math.abs(observed(b) - got(b)._3) <= 2500L,
        s"b=$b: observed ${observed(b)} vs expected ${got(b)._3}")
    }
  }

  test("q248: incremental labels equal q61's full recompute; the CC loop ran batch-sized") {
    val sf = "/root/testdata/sf0.001"
    val inc = SparkEntry.queries("q248_incremental_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = SparkEntry.queries("q61_dedup_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full, "incremental ≡ full recompute is the whole claim")
    // the rewrite's point: the contracted graph the loop ran on is the
    // BATCH slice, strictly smaller than the full pair graph (unless
    // every pair touches a new doc, which would make base empty)
    import org.apache.spark.sql.functions._
    val pairs = SparkEntry.queries("q32_dedup_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b")
    def base(c: String) = graft.ops.TextCore.idBucket(col(c)) < 80
    val total = pairs.count()
    val batch = pairs.where(!(base("doc_a") && base("doc_b"))).count()
    assert(total > 0 && batch < total,
      s"the split must leave real work in the base ($batch of $total pairs in the batch)")
  }

  test("q243: the oriented wedge census equals the brute-force triangle count") {
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q243_dup_graph_triangles")(spark, sf).head()
    val edges = SparkEntry.queries("q34_dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // brute force on the driver: adjacency sets, count closed wedges
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val wedges = adj.valuesIterator.map(n => n.size.toLong * (n.size - 1) / 2).sum
    // a triangle {x<y<z} is counted exactly once: from edge (x,y) with
    // apex z > y — the same orientation the query's wedge join uses
    val triangles = edges.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b).toLong
    }.sum
    assert(r.getAs[Long]("n_edges") == edges.size.toLong)
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(r.getAs[Long]("n_triangles") == triangles)
    val expectedCc = if (wedges == 0) null else 3L * triangles * 10000 / wedges
    if (wedges == 0) assert(r.isNullAt(r.fieldIndex("cc_bp")))
    else assert(r.getAs[Long]("cc_bp") == expectedCc)
    // the census is consistent: 3T ≤ W always (every triangle closes 3 wedges)
    assert(3 * triangles <= wedges || wedges == 0)
  }

  test("q333: FS weight table — field m/u rates and the u_bp=0 NULL guard") {
    import spark.implicits._
    // one truth pair agreeing on adjective + closeness but not noun;
    // candidates carry the truth pair (anti-joined away) plus two
    // non-matches: one agreeing on noun + closeness, one on nothing
    val truth = Seq(("aa bb", "aa bc")).toDF("na", "nb")
    val cand = Seq(
      ("aa bb", "aa bc"),  // the truth pair — must not reach the u stratum
      ("aa bb", "ab bb"),  // noun + close agree, adjective differs
      ("aa bb", "cc dd")   // nothing agrees
    ).toDF("na", "nb")
    val got = graft.ops.Dedup.fsWeightTable(truth, cand).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6),
          if (r.isNullAt(7)) null else r.getLong(7)))).toMap
    // adj: m = 1/1, u = 0/2 → u_bp = 0 → weight NULL (decisive field)
    assert(got("adj") == ((1L, 1L, 2L, 0L, 10000L, 0L, null)))
    // close: m = 1/1, u = 1/2 → w = 10000·10⁴ div 5000 = 20000
    assert(got("close") == ((1L, 1L, 2L, 1L, 10000L, 5000L, 20000L)))
    // noun: m = 0/1 → m_bp 0, u = 1/2 → w = 0
    assert(got("noun") == ((1L, 0L, 2L, 1L, 0L, 5000L, 0L)))
  }
}
