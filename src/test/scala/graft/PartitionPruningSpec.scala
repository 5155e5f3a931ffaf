package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import graft.etl.{SnapshotLog, StarBuilder}
import scala.jdk.CollectionConverters._

/** The warehouse facts are partitioned by `tahun` (StarBuilder.writeAll);
  * a year-filtered read must prune to that year's partition at planning
  * time — the partition-pruning story behind A19/A20. */
class PartitionPruningSpec extends AnyFunSuite with SparkTestBase {

  /** The live epoch directory of an LsmIndex artifact at `path`. */
  private def liveEpoch(path: String): java.io.File =
    SnapshotLog.versionDir(path, SnapshotLog.resolve(path))

  /** The parquet files under `dir` (any depth), keyed by their path
    * relative to it (`cb=K/gen=N/part-…` in a bucketed epoch). */
  private def parquetFiles(dir: java.io.File): Map[String, java.io.File] = {
    val root = dir.toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => root.relativize(f.toPath).toString -> f).toMap
    finally walk.close()
  }

  private def md5s(dir: java.io.File): Map[String, String] =
    parquetFiles(dir).map { case (rel, f) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(f.toPath))
      rel -> h.map("%02x".format(_)).mkString
    }

  /** The bucket directory (`cb=K`) a relative epoch path lives in. */
  private def bucketOf(rel: String): String = rel.takeWhile(_ != '/')

  test("a 4-probe query over the IVF index reads exactly 4 bucket directories") {
    // q37's scale claim made physical: writeIvfIndex lays the corpus out
    // bucketed by centroid id, so a probe set is a partition filter and
    // an nprobe search reads nprobe directories — not the corpus.
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    graft.ops.Similarity.writeIvfIndex(spark, "/root/testdata/sf0.001", idx)
    val live = liveEpoch(idx).toString
    val probes = Seq(1L, 3L, 5L, 7L)
    val probed = spark.read.parquet(live).where(col("cb").isin(probes: _*))
    val scan = probed.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition filters, got: ${scan.partitionFilters}")
    val dirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files)
      .map(_.getPath.getParent.getParent.getName).distinct.sorted
    assert(dirs == probes.map(c => s"cb=$c"),
      s"probe read touched: ${dirs.mkString(", ")}")
    // and the pruned read is the same rows the logical filter selects
    val expected = spark.read.parquet(live)
      .collect().count(r => probes.contains(r.getAs[Long]("c_id")))
    assert(probed.count() == expected)
  }

  test("an incremental IVF append touches only assigned-bucket directories") {
    import graft.ops.{Similarity, TextCore}
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val bucket = TextCore.idBucket(col("vec_id"))
    // full rebuild = ground truth for step 3; base-only index = the
    // already-ingested history (vec_id hash bucket < 50) the append grows
    Similarity.writeIvfIndex(spark, sfDir, idx)
    val baseIdx = idx + "_base"
    Similarity.writeIvfIndex(spark, sfDir, baseIdx, bucket < 50)
    def filesIn(dir: String): Map[String, Set[String]] =
      parquetFiles(liveEpoch(dir)).keySet.groupBy(bucketOf)
    val before = filesIn(baseIdx)
    Similarity.appendIvfIndex(spark, sfDir, baseIdx, bucket >= 50)
    val after = filesIn(baseIdx)
    // 1. no base file was rewritten or removed
    before.foreach { case (dir, fs) =>
      assert(fs.subsetOf(after.getOrElse(dir, Set.empty)),
        s"append rewrote files under $dir")
    }
    // 2. new files appear exactly under the buckets the incoming batch
    //    was assigned to (read the appended rows back for the truth)
    val incomingBuckets = spark.read.parquet(liveEpoch(baseIdx).toString)
      .where(bucket >= 50).select("c_id").distinct()
      .collect().map(r => s"cb=${r.getAs[Long]("c_id")}").toSet
    val grown = after.filter { case (dir, fs) =>
      fs != before.getOrElse(dir, Set.empty)
    }.keySet
    assert(grown == incomingBuckets,
      s"append touched $grown, expected $incomingBuckets")
    // 3. the appended index serves the same rows as a full rebuild (the
    //    frozen codebook makes base assignments append-invariant)
    def pairs(dir: String): Set[(Long, Long)] =
      spark.read.parquet(liveEpoch(dir).toString)
        .select("vec_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = pairs(idx)
    val incremental = pairs(baseIdx)
    assert(incremental == rebuilt)
    // 4. compaction of the grown index: folding the generations must
    //    not change a single served row, must shrink the file count,
    //    and the bucket directories (the probe-pruning unit) survive
    val fragged = parquetFiles(liveEpoch(baseIdx)).size
    graft.etl.LsmIndex.compact(spark, Similarity.byCentroid(baseIdx))()
    val packed = filesIn(baseIdx)
    assert(packed.values.map(_.size).sum < fragged,
      s"compaction should fold the generations' files (had $fragged files)")
    assert(packed.keySet == after.keySet)
    assert(pairs(baseIdx) == rebuilt)
  }

  test("PQ append keeps base code files byte-identical; search reads only the index") {
    import graft.ops.{Similarity, TextCore}
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_inc").toString
    val bucket = TextCore.idBucket(col("vec_id"))
    Similarity.writePqIndex(spark, sfDir, idx, bucket < 50)
    // content hash per code file — append must leave every base file's
    // BYTES untouched, not just its name
    def codeFileHashes(dir: String): Map[String, String] = md5s(liveEpoch(s"$dir/codes"))
    val before = codeFileHashes(idx)
    assert(before.nonEmpty)
    Similarity.appendPqIndex(spark, sfDir, idx, bucket >= 50)
    val after = codeFileHashes(idx)
    before.foreach { case (path, h) =>
      assert(after.get(path).contains(h), s"append rewrote base code file $path")
    }
    // the grown index holds exactly what a full rebuild would
    val full = java.nio.file.Files.createTempDirectory("graft_pq_full").toString
    Similarity.writePqIndex(spark, sfDir, full)
    assert(codeRows(idx) == codeRows(full))
    // ADC search touches ONLY index files: every file relation in the
    // search plan must live under the index root — raw embeddings are
    // never scanned (the queries frame is materialized beforehand, so
    // its lineage carries no file scan)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .localCheckpoint(true)
    val res = Similarity.pqIndexSearch(spark, idx, queries, nprobe = 4, k = 5)
    val fileRoots = res.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(fileRoots.nonEmpty)
    fileRoots.foreach { p =>
      assert(p.contains(idx), s"index search scans a non-index file source: $p")
    }
    // and it returns a full top-5 per query
    val rows = res.collect()
    assert(rows.length == 2 * 5)
    // compaction of the serving index: folding the appended code
    // generation must not change a single search result — the
    // maintenance op an accumulating index needs, proven against its
    // own query
    def pairs(r: Array[org.apache.spark.sql.Row]): Seq[(Long, Long, Long)] =
      r.map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("rank"),
        x.getAs[Long]("vec_id"))).sorted.toSeq
    val beforeCompact = pairs(rows)
    def codeFileCount = parquetFiles(liveEpoch(s"$idx/codes")).size
    val nFiles = codeFileCount
    graft.etl.LsmIndex.compact(spark, Similarity.byCentroid(s"$idx/codes"))()
    assert(codeFileCount < nFiles,
      s"compaction should fold the generations' files (had $nFiles files)")
    val reSearched = Similarity.pqIndexSearch(spark, idx, queries, nprobe = 4, k = 5)
    assert(pairs(reSearched.collect()) == beforeCompact)
  }

  /** (vec_id, j, code, c_id) of a PQ index's live code rows. */
  private def codeRows(dir: String): Set[(Long, Long, Long, Long)] =
    codeTuples(spark.read.parquet(liveEpoch(s"$dir/codes").toString))

  private def codeTuples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("vec_id", "j", "code", "c_id")
      .collect().map(r => (r.getAs[Number]("vec_id").longValue,
        r.getAs[Number]("j").longValue, r.getAs[Number]("code").longValue,
        r.getAs[Number]("c_id").longValue)).toSet

  test("trained PQ index: appends encode under the frozen trained codebook") {
    // the FAISS train-then-add lifecycle: the codebook is Lloyd-refit
    // ONCE at build time on the base corpus and persisted; appendPqIndex
    // reads it back, so growing the index batch by batch must yield the
    // same codes as a single trained build over everything it trained
    // on + received
    import graft.ops.{Similarity, TextCore}
    val sfDir = "/root/testdata/sf0.001"
    val bucket = TextCore.idBucket(col("vec_id"))
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_tr").toString
    Similarity.writePqIndex(spark, sfDir, idx, bucket < 50, train = true)
    // the persisted codebook really is the trained one, not the seed
    val seedIdx = java.nio.file.Files.createTempDirectory("graft_pq_seed").toString
    Similarity.writePqIndex(spark, sfDir, seedIdx, bucket < 50)
    def layer(dir: String, name: String) =
      spark.read.parquet(liveEpoch(s"$dir/$name").toString).drop("gen")
    def cbRows(dir: String): Set[(Long, Long, Seq[Double])] =
      layer(dir, "codebook").collect()
        .map(r => (r.getAs[Number]("j").longValue, r.getAs[Number]("k").longValue,
          r.getAs[Seq[Double]]("cb"))).toSet
    assert(cbRows(idx) != cbRows(seedIdx))
    Similarity.appendPqIndex(spark, sfDir, idx, bucket >= 50)
    // grown-under-frozen-book == full-corpus encoding under that book
    val expected = Similarity.pqIndexRows(spark, sfDir,
      layer(idx, "codebook"), layer(idx, "_centroids"), col("vec_id") >= Long.MinValue)
    assert(codeRows(idx) == codeTuples(expected))
  }

  /** Rebuild `idx` with a rowFilter whose UDF throws at execution time:
    * the rebuild must fail and `search` must still return what it
    * returned before. Run with adaptive execution on and off: with it
    * on, the UDF's pre-shuffle stage runs before the write command
    * starts; with it off, the failure lands inside the write job — the
    * window any failed write stage (I/O error, lost executor) opens. */
  private def assertFailedRebuildKeepsServing[T](search: => T)(
      rebuild: org.apache.spark.sql.Column => Unit): Unit = {
    import org.apache.spark.sql.functions.udf
    val before = search
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException(s"rowFilter failed on $id")
      true
    })
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try Seq("true", "false").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      intercept[Exception](rebuild(boom(col("vec_id"))))
      assert(search == before, s"with spark.sql.adaptive.enabled=$aqe")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** The test corpus the failed-rebuild tests index. */
  private val sfDir = "/root/testdata/sf0.001"

  private def testQueries(n: Int) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < n)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .localCheckpoint(true)

  test("a failed IVF rebuild leaves the previous index serving") {
    import graft.ops.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_fail").toString
    Similarity.writeIvfIndex(spark, sfDir, idx)
    val queries = testQueries(4)
    assertFailedRebuildKeepsServing(
      Similarity.ivfIndexSearch(spark, idx, queries, nprobe = 4, k = 5)
        .collect().toSeq)(Similarity.writeIvfIndex(spark, sfDir, idx, _))
  }

  test("a failed PQ rebuild leaves the previous index serving") {
    import graft.ops.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_fail").toString
    Similarity.writePqIndex(spark, sfDir, idx)
    val queries = testQueries(2)
    assertFailedRebuildKeepsServing(
      Similarity.pqIndexSearch(spark, idx, queries, nprobe = 4, k = 5)
        .collect().toSeq)(Similarity.writePqIndex(spark, sfDir, idx, _, train = false))
  }

  test("clustered (sorted) layout skips row groups an unsorted layout must read") {
    // The data-clustering story beyond directory partitioning: identical
    // fact rows written twice with small row groups — once range-
    // partitioned + sorted by student, once hash-laid-out by course —
    // then the same selective student range is read from both. Parquet
    // row-group/file min-max pruning means the SCAN (pre-filter) surfaces
    // far fewer rows from the sorted layout; the unsorted layout's every
    // row group straddles the range and must be read. Metrics come from
    // the executed scan node (through AQE's final plan).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val sfDir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_cluster").toString
    val blockSize = 64 * 1024 // several row groups per sandbox-scale file
    StarBuilder.writeFactClustered(spark, sfDir, s"$base/sorted", sorted = true, blockSize)
    StarBuilder.writeFactClustered(spark, sfDir, s"$base/unsorted", sorted = false, blockSize)

    val (lo, hi) = {
      val r = spark.read.parquet(s"$base/sorted")
        .agg(org.apache.spark.sql.functions.min("student"),
          org.apache.spark.sql.functions.max("student")).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      (mn + (mx - mn) * 45 / 100, mn + (mx - mn) * 50 / 100) // ~5% band
    }
    def scanRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir).where(col("student").between(lo, hi))
      val selected = df.count()
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = finalPlan.collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(s"no FileSourceScanExec under $dir"))
      (scan.metrics("numOutputRows").value, selected)
    }
    val (sortedScan, sortedSel) = scanRows(s"$base/sorted")
    val (unsortedScan, unsortedSel) = scanRows(s"$base/unsorted")
    assert(sortedSel == unsortedSel && sortedSel > 0, "layouts must hold the same rows")
    // the sorted layout's scan must surface well under half of what the
    // unsorted one reads (measured ~4× at sf0.001; asserted at 2× because
    // parquet row-group flush points shift slightly under the full
    // suite's concurrent memory pressure — 1460 vs 1521 rows observed)
    assert(sortedScan * 2 <= unsortedScan,
      s"row-group skipping bought nothing: sorted scan $sortedScan rows " +
        s"vs unsorted $unsortedScan (selected $sortedSel)")
    info(s"scan rows sorted=$sortedScan unsorted=$unsortedScan selected=$sortedSel " +
      f"(skip ratio ${unsortedScan.toDouble / sortedScan}%.1f×)")
  }

  test("Z-order layout prunes row groups on BOTH dimensions; single-sort on one") {
    // writeFactClustered sorts by student alone: a time predicate gets
    // zero skip from it. The Morton-interleaved layout must skip row
    // groups for a student range AND an id_waktu range on the same
    // files, each measured from the executed scan's pre-filter rows.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.Column
    val sfDir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // finer than the single-sort test's 64 KB: the Z-curve's skip
    // granularity is the row group, and at ~6000 rows a 64 KB group
    // spans a whole curve quadrant, blurring the min/max stats; 16 KB
    // gives ~16 groups so each covers a tight (student, time) cell (at
    // 100 TB the default 128 MB groups play this role)
    val blockSize = 16 * 1024
    StarBuilder.writeFactClustered(spark, sfDir, s"$base/bystudent", sorted = true, blockSize)
    StarBuilder.writeFactClustered(spark, sfDir, s"$base/uncorrelated", sorted = false, blockSize)
    StarBuilder.writeFactClusteredZ(spark, sfDir, s"$base/zorder", blockSize)
    def scanRows(dir: String, pred: Column): (Long, Long) = {
      val df = spark.read.parquet(dir).where(pred)
      val selected = df.count()
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = finalPlan.collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(s"no FileSourceScanExec under $dir"))
      (scan.metrics("numOutputRows").value, selected)
    }
    val stats = spark.read.parquet(s"$base/zorder")
      .agg(org.apache.spark.sql.functions.min("student"),
        org.apache.spark.sql.functions.max("student"),
        org.apache.spark.sql.functions.min("id_waktu"),
        org.apache.spark.sql.functions.max("id_waktu"),
        org.apache.spark.sql.functions.count(col("student"))).head()
    // student: a band strictly inside the second rank-quartile — the
    // Z key buckets by ROW-MASS quantiles, so the probe band must be
    // rank-aligned too (a value-midpoint band can straddle the curve's
    // student-half boundary and double the touched groups)
    val Array(sLo, sHi) = spark.read.parquet(s"$base/zorder")
      .stat.approxQuantile("student", Array(0.27, 0.48), 0.001)
    val sPred = col("student").between(sLo.toLong, sHi.toLong)
    // time: the lower quarter of the id_waktu surrogate range — aligned
    // with a curve quadrant (like the student band), so row groups in
    // the other time-quarters have disjoint min/max stats and skip
    val tPred = col("id_waktu") <=
      stats.getLong(2) + (stats.getLong(3) - stats.getLong(2)) / 4
    val total = stats.getLong(4)

    val (zStu, zStuSel) = scanRows(s"$base/zorder", sPred)
    val (zTime, zTimeSel) = scanRows(s"$base/zorder", tPred)
    val (oneStu, oneStuSel) = scanRows(s"$base/bystudent", sPred)
    val (oneTime, oneTimeSel) = scanRows(s"$base/bystudent", tPred)
    val (uncStu, uncStuSel) = scanRows(s"$base/uncorrelated", sPred)
    // identical rows in every layout
    assert(zStuSel == oneStuSel && zStuSel == uncStuSel && zStuSel > 0)
    assert(zTimeSel == oneTimeSel && zTimeSel > 0)
    // the single-sort layout cannot skip for the time predicate — it
    // reads (essentially) everything; the Z-layout must beat it by 2×
    assert(zTime * 2 <= oneTime,
      s"Z gave no time-dimension skip: z=$zTime vs bystudent=$oneTime (total $total)")
    // and the Z-layout still skips on student vs the uncorrelated
    // layout (weaker than the dedicated student sort — that's the trade)
    assert(zStu * 2 <= uncStu,
      s"Z gave no student-dimension skip: z=$zStu vs uncorrelated=$uncStu (total $total)")
    info(f"student pred: z=$zStu bystudent=$oneStu uncorrelated=$uncStu (selected $zStuSel)")
    info(f"time pred:    z=$zTime bystudent=$oneTime (selected $zTimeSel, total $total)")
  }

  /** The data files of a table dir (sidecars under `_idx` excluded),
    * keyed by their path relative to it. */
  private def tableDataFiles(dir: java.io.File): Map[String, java.io.File] =
    parquetFiles(dir).filter { case (rel, _) => !rel.startsWith("_") }

  test("compactVersioned re-clusters an appended stats table: disjoint intervals, narrow band prunes") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val wh = java.nio.file.Files.createTempDirectory("graft_cvclust").toString
    // four batches interleaved on id (batch k holds the ids ≡ k mod 4):
    // each commit is clustered only among its own files, so after the
    // appends every band overlaps one file of each batch
    def batch(k: Int) = (1L to 16000L).filter(_ % 4 == k)
      .map(i => (i, s"p_$i")).toDF("id", "payload")
    StarBuilder.writeTableVersionedStats(batch(0), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    (1 to 3).foreach(k => StarBuilder.appendTableVersionedStats(batch(k), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id")))
    val t1 = new java.io.File(liveEpoch(wh), "t")
    val files1 = tableDataFiles(t1)
    assert(files1.size == 16)
    // a target of a quarter of the table's bytes asks for ≥ 2 files
    val target = files1.values.map(_.length()).sum / 4
    StarBuilder.compactVersioned(spark, wh, target)
    val t2 = new java.io.File(liveEpoch(wh), "t")
    val n2 = tableDataFiles(t2).size
    assert(n2 >= 2 && n2 < files1.size, s"compacted to $n2 files")
    // the regenerated manifest covers every row, and its [min, max]
    // intervals are disjoint: the rewrite is range-clustered on the
    // manifest's own stats column
    val m2 = DataSkipping.statsManifest(spark, t2.toString).collect()
      .map(r => (r.getAs[Long]("min_id"), r.getAs[Long]("max_id"), r.getAs[Long]("n_rows")))
      .sortBy(_._1)
    assert(m2.length == n2 && m2.map(_._3).sum == 16000L)
    m2.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 < b._1, s"overlapping intervals: ${m2.mkString(" ")}")
    }
    // so a narrow band opens fewer files than the table has, and the
    // pruned read serves exactly the band
    val pruned = DataSkipping.prunedFiles(spark, t2.toString, "id", 8000L, 8009L)
    assert(pruned.nonEmpty && pruned.length < n2,
      s"no file skip after compaction: ${pruned.length} of $n2 files")
    assert(StarBuilder.readAtPruned(spark, wh, "t", "id", 8000L, 8009L)
      .where(col("id").between(8000L, 8009L)).select("id").as[Long]
      .collect().sorted.toSeq == (8000L to 8009L))
  }

  test("row-group skip survives compaction of a clustered table") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val sfDir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_compact_cl").toString
    val wh = s"$base/wh"
    val blockSize = 64 * 1024
    // a fragmented clustered table: 3 student-clustered commits of 4
    // files each (the state after many clustered increments), plus the
    // unsorted control
    val fact = StarBuilder.factNilaiMk(spark, sfDir)
    def batch(k: Int) = fact.where(pmod(hash(col("course")), lit(3)) === k)
    StarBuilder.writeTableVersionedStats(batch(0), wh, "fact",
      sortBy = Seq("student"), statsCols = Seq("student"), blockSize = blockSize)
    (1 to 2).foreach(k => StarBuilder.appendTableVersionedStats(batch(k), wh, "fact",
      sortBy = Seq("student"), statsCols = Seq("student"), blockSize = blockSize))
    StarBuilder.writeFactClustered(spark, sfDir, s"$base/unsorted", sorted = false, blockSize)
    def scanRows(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).where(pred)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      finalPlan.collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(s"no FileSourceScanExec under $dir")).metrics("numOutputRows").value
    }
    def factDir = new java.io.File(liveEpoch(wh), "fact")
    val r = spark.read.parquet(factDir.toString)
      .agg(org.apache.spark.sql.functions.min("student"),
        org.apache.spark.sql.functions.max("student")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val pred = col("student").between(mn + (mx - mn) * 45 / 100, mn + (mx - mn) * 50 / 100)
    val skipBefore = scanRows(factDir.toString, pred)
    val rowsBefore = spark.read.parquet(factDir.toString).count()
    val nBefore = tableDataFiles(factDir).size
    assert(nBefore == 12)
    // pack ~4:1; the rewrite re-sorts on the manifest's cluster key
    val target = tableDataFiles(factDir).values.map(_.length()).sum / 3
    StarBuilder.compactVersioned(spark, wh, target, blockSize = blockSize)
    val nAfter = tableDataFiles(factDir).size
    assert(nAfter < nBefore)
    assert(spark.read.parquet(factDir.toString).count() == rowsBefore)
    val skipAfter = scanRows(factDir.toString, pred)
    val unsortedScan = scanRows(s"$base/unsorted", pred)
    // clustering survives: the compacted table still skips ≥ 2× vs the
    // uncorrelated layout on the same predicate
    assert(skipAfter * 2 <= unsortedScan,
      s"compaction destroyed clustering: $skipAfter vs unsorted $unsortedScan")
    info(s"files $nBefore→$nAfter; scan rows before=$skipBefore after=$skipAfter " +
      s"unsorted=$unsortedScan")
  }

  test("compactVersioned carries a table already at target byte-for-byte, sidecars included") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val wh = java.nio.file.Files.createTempDirectory("graft_cvcarry").toString
    val v1 = StarBuilder.writeTableVersionedStats(
      (1L to 400L).map(i => (i, s"k_$i")).toDF("id", "key"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"), blockSize = 64 * 1024)
    val t1 = new java.io.File(s"$wh/v=$v1/t")
    DataSkipping.writeBloom(spark, t1.toString, "key")
    // the smallest file as the target: ⌈bytes/target⌉ ≥ the file count
    val target = tableDataFiles(t1).values.map(_.length()).min
    val v2 = StarBuilder.compactVersioned(spark, wh, target)
    val t2 = new java.io.File(s"$wh/v=$v2/t")
    // data files and both sidecars' part files are byte-copies
    val before = md5s(t1)
    assert(before.keys.exists(_.startsWith("_idx/stats/")) &&
      before.keys.exists(_.startsWith("_idx/bloom/")))
    assert(md5s(t2) == before)
    // and the carried manifest still prunes the new version's reads
    val nFiles = tableDataFiles(t2).size
    val pruned = DataSkipping.prunedFiles(spark, t2.toString, "id", 50L, 60L)
    assert(pruned.nonEmpty && pruned.length < nFiles)
    assert(StarBuilder.readAtPruned(spark, wh, "t", "id", 50L, 60L)
      .where(col("id").between(50L, 60L)).select("id").as[Long]
      .collect().sorted.toSeq == (50L to 60L))
  }

  test("a stats table under a directory named like the table serves pruned reads after an append") {
    import spark.implicits._
    import graft.etl.DataSkipping
    // the warehouse lives under an ancestor that shares the table's name:
    // every sidecar must still name files relative to the table root
    val wh = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_samename").toFile, "t/wh").toString
    StarBuilder.writeTableVersionedStats(
      (1L to 400L).map(i => (i, s"p_$i")).toDF("id", "payload"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    StarBuilder.appendTableVersionedStats(
      (401L to 500L).map(i => (i, s"p_$i")).toDF("id", "payload"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    assert(StarBuilder.readAtPruned(spark, wh, "t", "id", 390L, 420L)
      .where(col("id").between(390L, 420L)).select("id").as[Long]
      .collect().sorted.toSeq == (390L to 420L))
    val t2 = new java.io.File(liveEpoch(wh), "t")
    val manifestFiles = DataSkipping.statsManifest(spark, t2.toString).collect()
      .map(_.getAs[String]("file")).toSet
    assert(manifestFiles == tableDataFiles(t2).keySet)
  }

  test("stats manifest prunes files at planning time; compaction regenerates it") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val wh = java.nio.file.Files.createTempDirectory("graft_statsm").toString
    val df = (1L to 400L).map(i => (i, s"p_$i")).toDF("id", "payload")
    val v1 = StarBuilder.writeTableVersionedStats(df, wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    val tdir = s"$wh/v=$v1/t"
    // one manifest row per data file, counts summing to the table
    val manifest = DataSkipping.statsManifest(spark, tdir).collect()
    val nFiles = new java.io.File(tdir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(manifest.length == nFiles && nFiles >= 4)
    assert(manifest.map(_.getAs[Long]("n_rows")).sum == 400L)
    // a narrow band prunes files (sorted layout ⇒ disjoint intervals)
    val pruned = DataSkipping.prunedFiles(spark, tdir, "id", 50L, 60L)
    assert(pruned.nonEmpty && pruned.length < nFiles,
      s"no file skip: ${pruned.length} of $nFiles files for an 11-id band")
    // superset guarantee on a boundary-straddling band: pruned scan +
    // exact filter ≡ full scan + exact filter
    def band(d: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
      d.where(col("id").between(lo, hi)).select("id", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val lo = 95L; val hi = 205L // straddles the 100/200 file boundaries
    assert(band(DataSkipping.prunedScan(spark, tdir, "id", lo, hi), lo, hi)
      == band(spark.read.parquet(tdir), lo, hi))
    // a band outside every file's interval reads nothing, schema intact
    val empty = DataSkipping.prunedScan(spark, tdir, "id", 1000L, 2000L)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "payload"))
    // the pruned read goes through readAtPruned (log-resolved), same rows
    assert(band(StarBuilder.readAtPruned(spark, wh, "t", "id", lo, hi), lo, hi)
      == band(spark.read.parquet(tdir), lo, hi))
    // compaction renames every file — the manifest MUST be regenerated
    // for the new snapshot or pruned reads would miss all data
    val v2 = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    val t2 = s"$wh/v=$v2/t"
    val m2 = DataSkipping.statsManifest(spark, t2).collect()
    val files2 = new java.io.File(t2).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(m2.map(_.getAs[String]("file")).toSet == files2,
      "compacted manifest references stale files")
    assert(m2.map(_.getAs[Long]("n_rows")).sum == 400L)
    assert(band(StarBuilder.readAtPruned(spark, wh, "t", "id", lo, hi), lo, hi)
      == band(spark.read.parquet(t2), lo, hi))
  }

  test("readAtPruned masks a deletion vector: pruned band ≡ readAt band through delete, append, empty delete and compaction") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_pruned").toString
    StarBuilder.writeTableVersionedStats((1L to 400L).map(i => (i, s"p_$i")).toDF("id", "payload"),
      wh, "t", sortBy = Seq("id"), statsCols = Seq("id"))
    val lo = 95L; val hi = 205L // straddles the 100/200 file boundaries
    def band(d: org.apache.spark.sql.DataFrame) =
      d.where(col("id").between(lo, hi)).select("id", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def dataFiles(v: Long) = new java.io.File(s"$wh/v=$v/t").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    /** The pruned band equals the whole-table band at `v`; returns it. */
    def same(v: Long, what: String, pruning: Boolean = true) = {
      val pruned = StarBuilder.readAtPruned(spark, wh, "t", "id", lo, hi)
      val opened = pruned.inputFiles.count(!_.contains("/_dv/"))
      if (pruning) assert(opened < dataFiles(v), s"after $what: $opened of ${dataFiles(v)} files")
      val rows = band(pruned)
      assert(rows == band(StarBuilder.readAt(spark, wh, "t")), s"pruned read differs after $what")
      rows
    }
    val v2 = StarBuilder.deleteWhere(spark, wh, "t", col("id") % 3 === 0 || col("id") > 390)
    val afterDelete = same(v2, "the delete")
    assert(afterDelete.nonEmpty && afterDelete.forall(_._1 % 3 != 0))
    // appended rows inside the band live in a new file the sidecar never names
    val v3 = StarBuilder.appendTableVersionedStats((150L to 160L).map(i => (i, s"a_$i")).toDF("id", "payload"),
      wh, "t", sortBy = Seq("id"), statsCols = Seq("id"))
    assert(same(v3, "an append") == (afterDelete ++ (150L to 160L).map(i => (i, s"a_$i"))).sorted)
    val v4 = StarBuilder.deleteWhere(spark, wh, "t", col("id") < 0L)
    same(v4, "a delete matching nothing")
    val v5 = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    assert(!new java.io.File(s"$wh/v=$v5/_dv").exists())
    val compacted = same(v5, "the compaction", pruning = false)
    // a no-match delete on a DV-free version commits an EMPTY sidecar
    val v6 = StarBuilder.deleteWhere(spark, wh, "t", col("id") < 0L)
    assert(spark.read.parquet(s"$wh/v=$v6/_dv/t").count() == 0L)
    assert(same(v6, "an empty sidecar", pruning = false) == compacted)
  }

  test("a warm pruned read-back of a version without a deletion vector runs 5 jobs") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_pruned_jobs").toString
    StarBuilder.writeTableVersionedStats((1L to 400L).map(i => (i, i % 7, 1.0)).toDF("id", "g", "x"),
      wh, "t", sortBy = Seq("id"), statsCols = Seq("id"))
    // the transcript_ingest read-back shape: one key, exact filter, rollup.
    // Its jobs: the manifest's footer, the manifest collect, the pruned
    // files' footer, then the rollup's map and result jobs
    def readBack() = StarBuilder.readAtPruned(spark, wh, "t", "id", 150L, 150L)
      .where(col("id") === 150L).groupBy("g").agg(org.apache.spark.sql.functions.sum("x"))
      .collect()
    readBack()
    val jobs = jobsOf(readBack())
    assert(jobs.length == 5, jobs.mkString("\n"))
  }

  test("bloom sidecar skips files for point lookups where min/max stats cannot") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomt").toString
    (1L to 400L).map(i => (s"k_$i", i)).toDF("key", "x")
      .repartition(8, col("key"))
      .write.mode("overwrite").parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(nFiles == 8)
    // min/max stats are useless on a hash-distributed key: every file's
    // interval spans the key space, so a mid-range band keeps ALL files
    DataSkipping.writeStats(spark, dir, Seq("key"))
    assert(DataSkipping.prunedFiles(spark, dir, "key", "k_5", "k_50").length == nFiles)
    DataSkipping.writeBloom(spark, dir, "key")
    // zero false negatives: the bloom-pruned scan + exact filter returns
    // exactly the full scan's rows for present keys
    val probes = Seq("k_10", "k_250", "k_399")
    def hits(d: org.apache.spark.sql.DataFrame) =
      d.where(col("key").isin(probes: _*))
        .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("x"))).sorted.toSeq
    assert(hits(DataSkipping.bloomScan(spark, dir, "key", probes))
      == hits(spark.read.parquet(dir)))
    assert(hits(spark.read.parquet(dir)).map(_._1) == probes.sorted)
    // and it actually skips: 3 probe keys live in ≤ 3 files; false
    // positives may add a file or two but can never reach all 8
    // (deterministic — the hash family is fixed)
    val cand = DataSkipping.bloomCandidateFiles(spark, dir, probes)
    assert(cand.nonEmpty && cand.length < nFiles,
      s"bloom kept ${cand.length} of $nFiles files")
    // absent keys prune even harder, and the scan is empty after the
    // exact filter regardless of false positives
    val absent = Seq("nope_1", "nope_2")
    assert(DataSkipping.bloomCandidateFiles(spark, dir, absent).length < nFiles)
    assert(DataSkipping.bloomScan(spark, dir, "key", absent)
      .where(col("key").isin(absent: _*)).count() == 0)
  }

  test("growSidecars extends the stats manifest incrementally: old parts byte-identical, pruning ≡ full rebuild") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val dir = java.nio.file.Files.createTempDirectory("graft_appstats").toString
    (1L to 200L).map(i => (i, s"p_$i")).toDF("id", "payload")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    DataSkipping.writeStats(spark, dir, Seq("id"))
    def md5s(sub: String): Map[String, String] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
          f.getName -> h.map("%02x".format(_)).mkString
        }.toMap
    val dataBefore = md5s(".").keySet
    val manifestBefore = md5s("_idx/stats")
    // the day's ingest lands as new files; the manifest refresh must
    // scan ONLY them
    (201L to 300L).map(i => (i, s"p_$i")).toDF("id", "payload")
      .repartitionByRange(1, col("id")).sortWithinPartitions("id")
      .write.mode("append").parquet(dir)
    DataSkipping.growSidecars(spark, dir)
    // old manifest parts untouched, byte for byte
    val manifestAfter = md5s("_idx/stats")
    manifestBefore.foreach { case (f, h) =>
      assert(manifestAfter.get(f).contains(h), s"growSidecars rewrote manifest part $f")
    }
    assert(manifestAfter.size > manifestBefore.size)
    // new rows cover exactly the new data files
    val rows = DataSkipping.statsManifest(spark, dir).collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("min_id"), r.getAs[Long]("max_id"))).toSet
    val newFiles = md5s(".").keySet -- dataBefore
    assert(newFiles.nonEmpty)
    assert(rows.map(_._1) == dataBefore ++ newFiles)
    // a second growth with nothing new is a no-op
    DataSkipping.growSidecars(spark, dir)
    assert(md5s("_idx/stats") == manifestAfter)
    // incremental manifest ≡ full rebuild, row for row
    DataSkipping.writeStats(spark, dir, Seq("id"))
    val rebuilt = DataSkipping.statsManifest(spark, dir).collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("min_id"), r.getAs[Long]("max_id"))).toSet
    assert(rows == rebuilt)
  }

  test("append twins keep partition columns: stats/bloom on a partition-column key") {
    import spark.implicits._
    import graft.etl.DataSkipping
    // the stats column LIVES in the directory structure — without a
    // basePath read the fresh-file frames would lose it entirely
    // string partition values: partition-type inference keeps them
    // strings, so the bloom build and the string probes hash the same
    // type (the probe-side same-expression contract)
    val dir = java.nio.file.Files.createTempDirectory("graft_apppart").toString
    (1L to 100L).map(i => (i, s"d${i % 3}", s"p_$i")).toDF("id", "dt", "payload")
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    DataSkipping.writeStats(spark, dir, Seq("dt"))
    DataSkipping.writeBloom(spark, dir, "dt")
    (101L to 140L).map(i => (i, "d3", s"p_$i")).toDF("id", "dt", "payload")
      .write.mode("append").partitionBy("dt").parquet(dir)
    DataSkipping.growSidecars(spark, dir)
    // the appended partition's files carry real dt stats and the
    // pruned/bloom reads serve the new partition's rows
    assert(DataSkipping.statsManifest(spark, dir).where(col("min_dt") === "d3").count() > 0)
    assert(DataSkipping.prunedScan(spark, dir, "dt", "d3", "d3")
      .where(col("dt") === "d3").count() == 40L)
    assert(DataSkipping.bloomScan(spark, dir, "dt", Seq("d3"))
      .where(col("dt") === "d3").count() == 40L)
  }

  test("growSidecars extends the bloom sidecar incrementally and matches a rebuild") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val dir = java.nio.file.Files.createTempDirectory("graft_appbloom").toString
    (1L to 200L).map(i => (s"k_$i", i)).toDF("key", "x")
      .repartition(4, col("key"))
      .write.mode("overwrite").parquet(dir)
    DataSkipping.writeBloom(spark, dir, "key")
    def md5s(sub: String): Map[String, String] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
          f.getName -> h.map("%02x".format(_)).mkString
        }.toMap
    val sidecarBefore = md5s("_idx/bloom")
    (201L to 260L).map(i => (s"k_$i", i)).toDF("key", "x")
      .repartition(2, col("key"))
      .write.mode("append").parquet(dir)
    DataSkipping.growSidecars(spark, dir)
    val sidecarAfter = md5s("_idx/bloom")
    sidecarBefore.foreach { case (f, h) =>
      assert(sidecarAfter.get(f).contains(h), s"growSidecars rewrote sidecar part $f")
    }
    // point lookups through the grown sidecar: new keys found, zero
    // false negatives, candidates ≡ a full rebuild's
    val probes = Seq("k_10", "k_250")
    def hits(d: org.apache.spark.sql.DataFrame) =
      d.where(col("key").isin(probes: _*))
        .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("x"))).sorted.toSeq
    assert(hits(DataSkipping.bloomScan(spark, dir, "key", probes))
      == hits(spark.read.parquet(dir)))
    val candInc = DataSkipping.bloomCandidateFiles(spark, dir, probes).sorted
    DataSkipping.writeBloom(spark, dir, "key")
    assert(candInc == DataSkipping.bloomCandidateFiles(spark, dir, probes).sorted)
  }

  test("appendTableVersionedStats: new snapshot = byte-copied base + new files, manifest grows in place") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val wh = java.nio.file.Files.createTempDirectory("graft_appvstats").toString
    val v1 = StarBuilder.writeTableVersionedStats(
      (1L to 400L).map(i => (i, s"p_$i")).toDF("id", "payload"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    def md5s(root: String): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet")).map { f =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        new java.io.File(root).toPath.relativize(f.toPath).toString ->
          h.map("%02x".format(_)).mkString
      }.toMap
    }
    val base = md5s(s"$wh/v=$v1/t")
    val v2 = StarBuilder.appendTableVersionedStats(
      (401L to 500L).map(i => (i, s"p_$i")).toDF("id", "payload"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    assert(v2 == v1 + 1)
    // every v1 file (data AND manifest parts) rides into v2 byte-identical
    val grown = md5s(s"$wh/v=$v2/t")
    base.foreach { case (f, h) =>
      assert(grown.get(f).contains(h), s"append rewrote $f")
    }
    assert(grown.size > base.size)
    // the manifest covers exactly the data files, and the pruned
    // log-resolved read serves base + appended rows
    val tdir = s"$wh/v=$v2/t"
    val mFiles = DataSkipping.statsManifest(spark, tdir)
      .collect().map(_.getAs[String]("file")).toSet
    val dFiles = new java.io.File(tdir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(mFiles == dFiles)
    def band(d: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
      d.where(col("id").between(lo, hi)).select("id", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(band(StarBuilder.readAtPruned(spark, wh, "t", "id", 380L, 420L), 380L, 420L)
      == band(spark.read.parquet(tdir), 380L, 420L))
    assert(spark.read.parquet(tdir).count() == 500L)
    // and the appended band still prunes: a new-rows-only interval
    // keeps strictly fewer files than the table holds
    val pruned = DataSkipping.prunedFiles(spark, tdir, "id", 450L, 460L)
    assert(pruned.nonEmpty && pruned.length < dFiles.size)
  }

  test("compactVersioned regenerates the bloom sidecar with the repacked files") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val wh = java.nio.file.Files.createTempDirectory("graft_cvbloom").toString
    val v1 = StarBuilder.writeTableVersionedStats(
      (1L to 400L).map(i => (i, s"k_$i")).toDF("id", "key"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"), blockSize = 64 * 1024)
    val t1 = s"$wh/v=$v1/t"
    DataSkipping.writeBloom(spark, t1, "key")
    def lookup(tdir: String, keys: Seq[String]) =
      DataSkipping.bloomScan(spark, tdir, "key", keys)
        .where(col("key").isin(keys: _*))
        .select("id", "key").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val probes = Seq("k_5", "k_211")
    val before = lookup(t1, probes)
    assert(before.map(_._2).sorted == probes.sorted)
    // compaction renames every file — the regenerated sidecar must
    // reference exactly the compacted files, and the lookup answer
    // must survive the repack
    val v2 = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    val t2 = s"$wh/v=$v2/t"
    val bFiles = spark.read.parquet(s"$t2/_idx/bloom").collect()
      .map(_.getAs[String]("file")).toSet
    val dFiles = new java.io.File(t2).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(bFiles == dFiles, s"bloom sidecar references stale files: $bFiles vs $dFiles")
    assert(lookup(t2, probes) == before)
    // the pinned key column rides into the regenerated manifest
    assert(spark.read.parquet(s"$t2/_idx/bloom")
      .select("key_col").distinct().collect().map(_.getString(0)).toSeq == Seq("key"))
  }

  test("appendTableVersionedStats grows the bloom sidecar over the appended files") {
    import spark.implicits._
    import graft.etl.DataSkipping
    val wh = java.nio.file.Files.createTempDirectory("graft_avbloom").toString
    val v1 = StarBuilder.writeTableVersionedStats(
      (1L to 400L).map(i => (i, s"k_$i")).toDF("id", "key"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"), blockSize = 64 * 1024)
    DataSkipping.writeBloom(spark, s"$wh/v=$v1/t", "key")
    val v2 = StarBuilder.appendTableVersionedStats(
      (401L to 500L).map(i => (i, s"k_$i")).toDF("id", "key"), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"), blockSize = 64 * 1024)
    val t2 = s"$wh/v=$v2/t"
    // the sidecar at the new version covers every data file, appended
    // ones included
    val bFiles = spark.read.parquet(s"$t2/_idx/bloom").collect()
      .map(_.getAs[String]("file")).toSet
    val dFiles = new java.io.File(t2).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(bFiles == dFiles, s"bloom sidecar misses appended files: $bFiles vs $dFiles")
    // a key that exists only in the appended rows is found through it
    val probes = Seq("k_450")
    val hits = DataSkipping.bloomScan(spark, t2, "key", probes)
      .where(col("key").isin(probes: _*))
      .select("id", "key").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hits == Seq((450L, "k_450")))
  }

  test("appendTableVersionedStats refuses a retyped stats column before the claim") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_avretype").toString
    def batch(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"c_$i")).toDF("nrp", "course")
    val v1 = StarBuilder.writeTableVersionedStats(batch(1L, 400L), wh, "t",
      sortBy = Seq("nrp"), statsCols = Seq("nrp"))
    // the same batch with nrp as a string: committed, its manifest part
    // would carry binary min/max beside the base's bigint ones, and every
    // pruned read of the new version would fail on the manifest schema
    val e = intercept[IllegalArgumentException] {
      StarBuilder.appendTableVersionedStats(
        batch(401L, 500L).withColumn("nrp", col("nrp").cast("string")), wh, "t",
        sortBy = Seq("nrp"), statsCols = Seq("nrp"))
    }
    assert(e.getMessage.contains("retyped: nrp"))
    // refused before the claim: latest stays v1, no v=2 directory exists
    assert(SnapshotLog.latestVersion(wh).contains(v1))
    assert(!new java.io.File(s"$wh/v=${v1 + 1}").exists())
    assert(StarBuilder.readAtPruned(spark, wh, "t", "nrp", 10L, 20L)
      .where(col("nrp").between(10L, 20L)).select("nrp").as[Long]
      .collect().sorted.toSeq == (10L to 20L))
  }

  test("appendTableVersionedStats refuses a clustering key other than the manifest's") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_avkey").toString
    def batch(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"p_$i")).toDF("id", "payload")
    val v1 = StarBuilder.writeTableVersionedStats(batch(1L, 400L), wh, "t",
      sortBy = Seq("id"), statsCols = Seq("id"))
    // the manifest indexes id: stats rows for payload would read back
    // NULL against its schema, and prunedFiles drops NULL-stats rows
    Seq(Seq("id") -> Seq("payload"), Seq("payload") -> Seq("id")).foreach {
      case (sortBy, statsCols) =>
        val e = intercept[IllegalArgumentException] {
          StarBuilder.appendTableVersionedStats(batch(401L, 500L), wh, "t",
            sortBy = sortBy, statsCols = statsCols)
        }
        assert(e.getMessage.contains("one key per stats manifest"))
    }
    assert(SnapshotLog.latestVersion(wh).contains(v1))
    // and a table without a manifest has no key for the stats append
    val plain = StarBuilder.writeTableVersioned(batch(1L, 10L), wh, "u")
    val e = intercept[IllegalArgumentException] {
      StarBuilder.appendTableVersionedStats(batch(11L, 20L), wh, "u",
        sortBy = Seq("id"), statsCols = Seq("id"))
    }
    assert(e.getMessage.contains("one key per stats manifest"))
    assert(SnapshotLog.latestVersion(wh).contains(plain))
  }

  test("PQ DV sidecar: erasure vanishes from search on unchanged code files; rebuild drops it") {
    import graft.ops.Similarity
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_dv").toString
    Similarity.writePqIndex(spark, sfDir, idx)
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .localCheckpoint(true)
    def search(i: String) = Similarity.pqIndexSearch(spark, i, queries, nprobe = 4, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"))).sorted.toSeq
    val before = search(idx)
    val victim = before.head._3 // a served neighbor — the erasure target
    def codeMd5s(dir: String): Map[String, String] = md5s(liveEpoch(s"$dir/codes"))
    val codesBefore = codeMd5s(idx)
    Similarity.deletePqVectors(spark, idx, Seq(victim))
    val after = search(idx)
    // the deleted id never appears; code files untouched byte for byte
    assert(!after.exists(_._3 == victim))
    assert(codeMd5s(idx) == codesBefore)
    // surviving results ≡ an index REBUILT without the victim (the
    // anti-join runs before the top-k window, so ranks recompute)
    val rebuiltIdx = java.nio.file.Files.createTempDirectory("graft_pq_dv_rb").toString
    Similarity.writePqIndex(spark, sfDir, rebuiltIdx, col("vec_id") =!= victim)
    assert(after == search(rebuiltIdx))
    // idempotent: re-deleting serves the same result
    Similarity.deletePqVectors(spark, idx, Seq(victim))
    assert(search(idx) == after)
    // a rebuild starts clean: the new epoch carries no erasure and the
    // victim (re-added by the unfiltered rebuild) serves again
    Similarity.writePqIndex(spark, sfDir, idx)
    assert(search(idx).exists(_._3 == victim))
    assert(search(idx) == before)
  }

  test("IVF DV sidecar: file-served search matches q37, erasure vanishes on unchanged files, rebuild drops it") {
    import graft.ops.Similarity
    val sfDir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_dv").toString
    Similarity.writeIvfIndex(spark, sfDir, idx)
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .localCheckpoint(true)
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).sorted.toSeq
    def search(i: String) =
      rows(Similarity.ivfIndexSearch(spark, i, queries, nprobe = 4, k = 5))
    // the file-served search IS q37: same probes, same candidates, same
    // ranks — the artifact serves exactly what the in-memory plan computes
    val before = search(idx)
    assert(before == rows(Similarity.q37_knn_ivf(spark, sfDir)))
    // and it touches ONLY index files: every file relation in the plans
    // the search executes lives under the index root — raw embeddings
    // are never scanned (queries are checkpointed, so their lineage
    // carries no file scan). The search returns a local relation, so
    // the plans are those of the actions it runs, seen by a listener.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val executed = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.synchronized(executed += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the q37 plan above must not reach the listener late
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      Similarity.ivfIndexSearch(spark, idx, queries, nprobe = 4, k = 5)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val fileRoots = executed.toSeq.flatMap(_.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten)
    assert(fileRoots.nonEmpty)
    fileRoots.foreach { p =>
      assert(p.contains(idx), s"index search scans a non-index file source: $p")
    }
    def dataMd5s(dir: String): Map[String, String] = md5s(liveEpoch(dir))
    val filesBefore = dataMd5s(idx)
    val victim = before.head._3 // a served neighbor — the erasure target
    Similarity.deleteIvfVectors(spark, idx, Seq(victim))
    val after = search(idx)
    // the deleted id never appears; index data files untouched byte for byte
    assert(!after.exists(_._3 == victim))
    assert(dataMd5s(idx) == filesBefore)
    // surviving results ≡ an index REBUILT without the victim (the
    // anti-join runs before the top-k window, so ranks recompute)
    val rebuiltIdx = java.nio.file.Files.createTempDirectory("graft_ivf_dv_rb").toString
    Similarity.writeIvfIndex(spark, sfDir, rebuiltIdx, col("vec_id") =!= victim)
    assert(after == search(rebuiltIdx))
    // idempotent: re-deleting serves the same result
    Similarity.deleteIvfVectors(spark, idx, Seq(victim))
    assert(search(idx) == after)
    // a rebuild starts clean: the new epoch carries no erasure and the
    // victim (re-added by the unfiltered rebuild) serves again
    Similarity.writeIvfIndex(spark, sfDir, idx)
    assert(search(idx).exists(_._3 == victim))
    assert(search(idx) == before)
  }

  test("tahun filter prunes fact partitions in the warehouse read") {
    val dir = writeMiniStar(Seq(
      (1L, 1L, 101L, "2023-03-15", "A", "F", 3.0),
      (2L, 1L, 102L, "2023-09-01", "N", "F", 2.0),
      (3L, 2L, 103L, "2024-03-01", "R", "O", 4.0)))
    val wh = java.nio.file.Files.createTempDirectory("graft_prune").toString
    StarBuilder.writeAll(spark, dir, wh)

    val filtered = spark.read.parquet(s"$wh/fact_nilai_mk").where(col("tahun") === 2023)
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition filters, got: ${scan.partitionFilters}")
    // only the 2023 directory is read
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).forall(_.getPath.toString.contains("tahun=2023")))
    assert(filtered.count() == 2)
  }
}
