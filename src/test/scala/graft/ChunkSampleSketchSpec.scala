package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, TextStats}
import graft.streaming.EventStream

/** Behavioral pins for the round-12 operators: q165 weighted sampling,
  * q166/q167 content-defined chunking, q168 histogram quantiles. Each
  * is checked against an independent in-memory reference — the
  * brute-force-twin convention (StarSpec's fold cross-checks,
  * PropertiesSpec's BPE reference). */
class ChunkSampleSketchSpec extends AnyFunSuite with SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** First 8 md5 hex digits as a long — the house uniform draw. */
  private def hash32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ---------------------------------------------------------------- q165

  test("q165 key: min of w draws equals the brute-force md5 minimum") {
    import spark.implicits._
    val rows = Seq((7L, 1L), (7L, 4L), (123L, 2L), (99999L, 3L))
    val got = rows.toDF("id", "w")
      .select(col("id"), col("w"),
        Curation.weightedDrawKey(col("id"), col("w")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (id, w) =>
      val expect = (0L until w).map(j => hash32(s"$id:$j")).min
      assert(got((id, w)) == expect, s"id=$id w=$w")
    }
  }

  test("q165 key is monotone in w: more draws can only lower the key") {
    import spark.implicits._
    val ids = (0L until 500L)
    val keys = ids.flatMap(i => Seq((i, 1L), (i, 2L), (i, 4L)))
      .toDF("id", "w")
      .select(col("id"), col("w"),
        Curation.weightedDrawKey(col("id"), col("w")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ids.foreach { i =>
      assert(keys((i, 4L)) <= keys((i, 2L)) && keys((i, 2L)) <= keys((i, 1L)))
    }
  }

  test("q165 selection is weight-proportional on a planted 1-vs-4 corpus") {
    // alternating weights 1 and 4 over 4000 ids; the bottom-400 keys
    // should be ≈ 4/5 weight-4 docs (expected 320). The draw is
    // deterministic, so the assertion is a fixed fact about md5 — the
    // bound is loose only to keep it insensitive to the id set.
    import spark.implicits._
    val winners = (0L until 4000L).map(i => (i, if (i % 2 == 0) 1L else 4L))
      .toDF("id", "w")
      .select(col("id"), col("w"),
        Curation.weightedDrawKey(col("id"), col("w")).as("k"))
      .orderBy(col("k").asc, col("id").asc).limit(400)
      .collect()
    val heavy = winners.count(_.getLong(1) == 4L)
    assert(heavy >= 260 && heavy <= 380,
      s"weight-4 docs won $heavy of 400; expected ≈ 320 under w-proportional draw")
  }

  // ----------------------------------------------------------- q166/q167

  /** The content-defined chunker, re-derived in memory: 4-token rolling
    * windows, boundary when hash32(window) % 16 == 0 (position n
    * excluded), chunk = md5 of the joined slice. */
  private def refChunks(words: Seq[String]): Seq[String] =
    refChunksTok(words).map(_._1)

  private def tokens(seed: Int, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(_ => s"w${r.nextInt(50)}")
  }

  test("cdcChunks equals the in-memory reference chunker on random docs") {
    val docs = Seq(
      0L -> tokens(1, 200), 1L -> tokens(2, 37), 2L -> tokens(3, 4),
      3L -> tokens(4, 3), 4L -> tokens(5, 1), 5L -> tokens(6, 400))
    val dir = writeMiniDocs(docs.map { case (id, ts) => id -> ts.mkString(" ") })
    val got = Dedup.cdcChunks(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getAs[String]("chunk_md5")).sorted.toSeq }
    docs.foreach { case (id, ts) =>
      assert(got(id) == refChunks(ts).sorted,
        s"doc $id: engine chunks != reference")
    }
  }

  test("chunking is shift-robust: an inserted prefix loses only the head chunks") {
    // B = 7 junk tokens + A's 300 tokens. Boundaries are functions of
    // local content, so they RESYNC after the first post-insertion
    // boundary: every A-chunk except the first must reappear in B
    // verbatim. (A fixed-stride chunker would lose every chunk.)
    val a = tokens(10, 300)
    val b = tokens(11, 7) ++ a
    val ca = refChunks(a)
    val cb = refChunks(b).toSet
    assert(ca.size >= 10, s"corpus too short to be meaningful: ${ca.size} chunks")
    val surviving = ca.tail.count(cb.contains)
    assert(surviving == ca.size - 1,
      s"expected all ${ca.size - 1} post-head chunks to survive the shift, got $surviving")
    // and the engine agrees with the reference on both docs
    val dir = writeMiniDocs(Seq(0L -> a.mkString(" "), 1L -> b.mkString(" ")))
    val got = Dedup.cdcChunks(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getAs[String]("chunk_md5")).sorted.toSeq }
    assert(got(0L) == ca.sorted && got(1L) == refChunks(b).sorted)
  }

  test("q167 flags a block-stitched doc and spares unique prose") {
    // X: 160 unique tokens. Y: X's full body + 20 own tokens (mostly
    // stitched from X's blocks). Z: 160 different unique tokens.
    // Brute-force the expected per-doc dup fractions from refChunks and
    // require exact agreement, plus the headline judgements: Y flagged,
    // Z not.
    val x = tokens(20, 160)
    val y = x ++ tokens(21, 20)
    val z = tokens(22, 160).map(_ + "z")
    val dir = writeMiniDocs(Seq(0L -> x.mkString(" "), 1L -> y.mkString(" "),
      2L -> z.mkString(" ")))
    val all = Seq(0L -> refChunks(x), 1L -> refChunks(y), 2L -> refChunks(z))
    val docsPerChunk = all.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    val got = graft.ops.Dedup.q167_chunk_dup_docs(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    all.foreach { case (id, cs) =>
      val nDup = cs.count(c => docsPerChunk(c) > 1)
      val flagged = if (2 * nDup >= cs.size) 1L else 0L
      assert(got(id) == (cs.size.toLong, nDup.toLong, flagged), s"doc $id")
    }
    assert(got(1L)._3 == 1L, "the stitched doc must be flagged")
    assert(got(2L)._3 == 0L, "unique prose must not be flagged")
  }

  /** [[refChunks]] with each chunk's token count. */
  private def refChunksTok(words: Seq[String]): Seq[(String, Int)] = {
    val n = words.length
    val bounds = (4 until n).filter { i =>
      hash32(words.slice(i - 4, i).mkString(" ")) % 16 == 0
    }
    val starts = 1 +: bounds.map(_ + 1)
    val ends = bounds :+ n
    starts.zip(ends).map { case (a, b) =>
      (md5hex(words.slice(a - 1, b).mkString(" ")), b - a + 1)
    }
  }

  test("q169 equals a first-occurrence fold; verbatim re-serves add zero novelty") {
    val t0 = tokens(40, 150); val t1 = tokens(41, 150); val t2 = tokens(42, 150)
    val fresh = (0 until 150).map(i => s"f$i")
    val docs = Seq(0L -> t0, 1L -> t1, 2L -> t2,
      100L -> t0, 101L -> t0, 102L -> fresh)
    val dir = writeMiniDocs(docs.map { case (i, ts) => i -> ts.mkString(" ") })
    // the reference fold: chunks in (doc_id, chunk_idx) order, novelty
    // credited to the batch holding the FIRST corpus occurrence
    val seen = scala.collection.mutable.Set.empty[String]
    val novel = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val total = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    docs.sortBy(_._1).foreach { case (id, ts) =>
      val batch = id / 100
      refChunksTok(ts).foreach { case (h, nt) =>
        total(batch) += nt
        if (seen.add(h)) novel(batch) += nt
      }
    }
    val got = Dedup.q169_chunk_novelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    Seq(0L, 1L).foreach { b =>
      assert(got(b) == (3L, total(b), novel(b)), s"batch $b: ${got(b)}")
    }
    // the verbatim re-serves (docs 100/101) contribute zero novel
    // tokens: batch 1's novelty is bounded by the fresh doc alone
    assert(novel(1L) <= refChunksTok(fresh).map(_._2).sum.toLong)
  }

  /** Every parquet file under `root` in the `gen=<g>` partition, keyed
    * by bucket-relative path (the RetrievalSpec genMd5s convention —
    * layout is `chunks/cb=<b>/gen=<g>/part-*.parquet`). */
  private def genMd5s(root: java.io.File, gen: Long): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(root)
      .filter(f => f.getName.endsWith(".parquet") && f.getPath.contains(s"gen=$gen"))
      .map { f =>
        s"${f.getParentFile.getParentFile.getName}/${f.getName}" ->
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
      }.toMap
  }

  test("chunk index LSM: append never rewrites base files; served == in-memory ledger") {
    import org.apache.spark.sql.functions.col
    val dir = writeMiniDocs((0L until 20L).map { i =>
      i -> ((0 until 40).map(j => s"s${(i.toInt * 3 + j) % 60}").mkString(" "))
    })
    val out = java.nio.file.Files.createTempDirectory("graft_chunkidx").toString
    Dedup.writeChunkIndex(spark, dir, out, col("doc_id") % 2 === 0)
    val gen0 = genMd5s(new java.io.File(s"$out/chunks"), 0L)
    assert(gen0.nonEmpty)
    Dedup.appendChunkIndex(spark, dir, out, col("doc_id") % 2 === 1)
    // LSM contract: base generation byte-untouched by the append
    assert(genMd5s(new java.io.File(s"$out/chunks"), 0L) == gen0)
    assert(genMd5s(new java.io.File(s"$out/chunks"), 1L).nonEmpty)
    // served-from-files equals the in-memory ledger over the full corpus
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val before = rows(Dedup.chunkIndexDups(spark, out))
    assert(before == rows(Dedup.q166_cdc_chunk_dups(spark, dir)))
    // major compaction folds the generations; the served ledger is
    // unchanged and gen=1 directories are gone
    Dedup.compactChunkIndex(spark, out)
    assert(genMd5s(new java.io.File(s"$out/chunks"), 1L).isEmpty)
    assert(genMd5s(new java.io.File(s"$out/chunks"), 0L).nonEmpty)
    assert(rows(Dedup.chunkIndexDups(spark, out)) == before)
  }

  test("chunkIndexProbe reads only the probe's bucket directories; verdicts = full-ledger twin") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val dir = writeMiniDocs((0L until 20L).map { i =>
      i -> ((0 until 40).map(j => s"s${(i.toInt * 3 + j) % 60}").mkString(" "))
    })
    val out = java.nio.file.Files.createTempDirectory("graft_chunkprobe").toString
    Dedup.writeChunkIndex(spark, dir, out)
    // probe: doc 100 re-serves doc 0's text verbatim; doc 101 is fresh
    val probeDocs = Seq(
      (100L, (0 until 40).map(j => s"s${(0 * 3 + j) % 60}").mkString(" ")),
      (101L, (0 until 30).map(j => s"zz$j").mkString(" ")))
    val pdf = probeDocs.toDF("doc_id", "text")
    val probeChunkFrame = Dedup.cdcChunksOf(pdf.select(col("doc_id"),
      graft.ops.TextCore.wordsCol(graft.ops.TextCore.normCol(col("text"))).as("words")))
    // expected buckets brute-forced from the probe chunk hashes (the
    // layout hashes the first 4 hex digits of chunk_md5 mod 64)
    val expectedCbs = probeDocs
      .flatMap { case (_, t) => refChunks(t.split(" ").toSeq) }
      .map(h => java.lang.Long.parseLong(h.take(4), 16) % 64).toSet
    val pruned = Dedup.prunedChunks(spark, out, probeChunkFrame)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in pruned plan"))
    assert(scan.partitionFilters.nonEmpty, "no partition filter pushed")
    val dirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files)
      .map(_.getPath.getParent.getParent.getName).distinct
    assert(dirs.nonEmpty && dirs.toSet.subsetOf(expectedCbs.map(b => s"cb=$b")),
      s"scan touched ${dirs.mkString(",")} outside probe buckets $expectedCbs")
    // verdicts: the re-serve is fully flagged, the fresh doc clean —
    // and row-for-row equal to classifying against the UNPRUNED ledger
    // through the streaming probe's batch twin
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSet
    val got = rows(Dedup.chunkIndexProbe(spark, out, pdf))
    val fullLedger = spark.read.parquet(s"$out/chunks")
      .select("chunk_md5").distinct()
    val twin = rows(EventStream.chunkReportBatch(
      EventStream.chunkProbeStream(pdf, fullLedger)))
    assert(got == twin, s"pruned serve != full-ledger twin:\n$got\n$twin")
    val byDoc = got.map(t => t._1 -> t).toMap
    assert(byDoc(100L)._4 == 1L, "verbatim re-serve must be flagged")
    assert(byDoc(101L)._3 == 0L, "fresh doc must have zero dup chunks")
  }

  // ---------------------------------------------------------------- q171

  test("q171 equals a brute-force bloom on planted docs; no false negatives") {
    // ids chosen so the train half (idBucket < 50) and probe-only half
    // are both populated; duplicates across the split make a probe-side
    // TRUE member; the brute force recomputes every count from md5s.
    val texts = (0L until 40L).map(i => i -> s"doc ${i % 25} body text")
    val dir = writeMiniDocs(texts.map { case (i, t) => i -> t })
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(md5hex(id.toString).take(4), 16) % 100
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val fps = texts.map { case (i, t) => i -> md5hex(norm(t)) }
    def pos(fp: String): Set[Long] = Set(
      java.lang.Long.parseLong(fp.take(8), 16) % 1024,
      java.lang.Long.parseLong(fp.slice(8, 16), 16) % 1024)
    val trainFp = fps.filter { case (i, _) => bucket(i) < 50 }.map(_._2).toSet
    val bits = trainFp.flatMap(pos)
    val hits = fps.count { case (_, fp) => pos(fp).subsetOf(bits) }
    val members = fps.count { case (_, fp) => trainFp.contains(fp) }
    val fpos = fps.count { case (_, fp) =>
      pos(fp).subsetOf(bits) && !trainFp.contains(fp) }
    val r = TextStats.q171_bloom_membership(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_bits_set") == bits.size.toLong)
    assert(r.getAs[Long]("n_probes") == texts.size.toLong)
    assert(r.getAs[Long]("n_members") == members.toLong)
    assert(r.getAs[Long]("n_bloom_hits") == hits.toLong)
    assert(r.getAs[Long]("n_false_pos") == fpos.toLong)
    // the Bloom guarantee: every true member hits (no false negatives)
    assert(r.getAs[Long]("n_bloom_hits") >= r.getAs[Long]("n_members"))
  }

  // ---------------------------------------------------------------- q177

  test("q177 counts planted violations: dup keys, empty text, both orphan directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_integrity").toString
    // docs: id 3 duplicated, id 4 empty text, ids 0-4 (id 9 missing
    // from embeddings side below)
    Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"),
      (3L, "delta again"), (4L, ""))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: ids 0-2 matched, id 7 orphan, id 1 duplicated
    Seq(0L, 1L, 1L, 2L, 7L).zipWithIndex
      .map { case (id, i) => (id, Seq(1.0f * i, 2.0f), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.ops.Pipeline.q177_integrity_audit(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") == 6L)
    assert(r.getAs[Long]("n_embs") == 5L)
    assert(r.getAs[Long]("n_dup_doc_ids") == 1L)
    assert(r.getAs[Long]("n_dup_vec_ids") == 1L)
    assert(r.getAs[Long]("n_empty_text") == 1L)
    // docs 3 (x2) and 4 have no embedding -> 3 doc rows without emb
    assert(r.getAs[Long]("n_docs_without_emb") == 3L)
    assert(r.getAs[Long]("n_embs_without_doc") == 1L)
  }

  // ---------------------------------------------------------------- q168

  test("q168 quantiles on planted lengths: exact buckets and counts") {
    // 100 docs × 10 tokens (bucket 0) + 10 docs × 100 tokens (bucket 6):
    // N = 110; p50 target 55 → bucket 0; p90 target 99 → bucket 0
    // (n_le = 100 ≥ 99); p99 target ⌈108.9⌉ = 109 → bucket 6.
    val dir = writeMiniDocs(
      (0L until 100L).map(i => i -> tokens(30 + i.toInt, 10).mkString(" ")) ++
        (100L until 110L).map(i => i -> tokens(60 + i.toInt, 100).mkString(" ")))
    val got = TextStats.q168_hist_quantiles(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(50L) == (0L, 16L, 100L, 110L))
    assert(got(90L) == (0L, 16L, 100L, 110L))
    assert(got(99L) == (6L, 112L, 110L, 110L))
  }
}
