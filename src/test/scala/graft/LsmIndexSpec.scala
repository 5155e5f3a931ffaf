package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{CommitProtocol, ConditionalPutCommitProtocol, LsmIndex,
  RenameCommitProtocol, SnapshotLog}

/** The shared LSM module's own contract (the three family specs —
  * DedupSpec span/chunk, RetrievalSpec postings — pin each domain's
  * semantics THROUGH this module; this suite pins what only the shared
  * code owns: the claim-then-commit epoch publish and its crash-window
  * recovery, and erasure and its races with a publish, exercised
  * against BOTH CommitProtocol shapes — the POSIX rename implementation
  * and the conditional-PUT object-store model, picked through the log's
  * scoped selector. */
class LsmIndexSpec extends AnyFunSuite with SparkTestBase {

  private def layout(bucketed: Boolean): (String, LsmIndex.Layout) = {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_lsm").toString + "/idx"
    val l =
      if (bucketed) LsmIndex.Layout(out, Some(("b", pmod(col("k"), lit(4L)))))
      else LsmIndex.Layout(out)
    (out, l)
  }

  private def rowsOf(l: LsmIndex.Layout): Set[(Long, Long)] =
    LsmIndex.read(spark, l).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def epochDirs(out: String): Set[String] =
    Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName).toSet

  /** The erase records (`_erase.<n>`) under an artifact, at any depth. */
  private def eraseFiles(out: String): Iterable[String] =
    fileListing(out).keys.filter(_.split('/').last.startsWith("_erase."))

  /** 200 seeded 16-dim embeddings for the IVF race specs. */
  private lazy val embsDir = {
    val rnd = new scala.util.Random(71)
    writeMiniEmbeddings((0L until 200L).map(i => i -> Seq.fill(16)(rnd.nextGaussian().toFloat)))
  }

  /** The ids of the top-3 IVF neighbours of vector `id`'s own embedding
    * (query id 10000, so no self-exclusion applies): `id` itself first,
    * unless it is erased. */
  private def neighbours(ivf: String, id: Long): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    val q = spark.read.parquet(s"$embsDir/embeddings.parquet").where(col("vec_id") === id)
      .select(org.apache.spark.sql.functions.lit(10000L).as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    graft.ops.Similarity.ivfIndexSearch(spark, ivf, q, 4, 3).collect()
      .map(_.getAs[Long]("neighbor_id")).toSeq
  }

  private val protocols: Seq[(String, CommitProtocol)] = Seq(
    "rename" -> RenameCommitProtocol,
    "conditional-put" -> new ConditionalPutCommitProtocol)

  for ((pname, proto) <- protocols) {

    def protoTest(name: String)(body: => Unit): Unit =
      test(s"[$pname] $name")(SnapshotLog.withProtocol(proto)(body))

    protoTest("compact folds generations into a fresh committed epoch; superseded epochs vacuumed") {
      import spark.implicits._
      val (out, l) = layout(bucketed = true)
      LsmIndex.write((0L until 8L).map(k => (k, k * 10)).toDF("k", "v"), l)
      LsmIndex.append((8L until 12L).map(k => (k, k * 10)).toDF("k", "v"), l)
      val before = rowsOf(l)
      LsmIndex.compact(spark, l)()
      assert(rowsOf(l) == before)
      // exactly one live epoch (the old one vacuumed), and inside it
      // gen=1 folded away: only gen=0 remains under every bucket
      assert(epochDirs(out) == Set("v=1"))
      val gens = Option(new java.io.File(s"$out/v=1").listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
        .filter(_.isDirectory).map(_.getName).toSet
      assert(gens == Set("gen=0"))
      // the publish cleaned up after itself — no staging residue
      assert(Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .forall(f => !f.getName.startsWith(".txn_")))
    }

    protoTest("compact discards a stale staging dir left by a crashed predecessor") {
      import spark.implicits._
      val (out, l) = layout(bucketed = false)
      LsmIndex.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), l)
      LsmIndex.append(Seq((3L, 30L)).toDF("k", "v"), l)
      // a predecessor crashed mid-staging: junk at <path>/.txn_… must
      // not poison the next run (it is discarded, never merged)
      val stale = new java.io.File(out, ".txn_deadbeef")
      stale.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(stale, "junk.txt").toPath, "not parquet")
      val before = rowsOf(l)
      LsmIndex.compact(spark, l)()
      assert(rowsOf(l) == before)
      assert(!stale.exists())
    }

    protoTest("a claimed-but-unmarked epoch (crash between claim and marker) never serves and is recovered") {
      import spark.implicits._
      val (out, l) = layout(bucketed = false)
      LsmIndex.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), l)
      LsmIndex.append(Seq((3L, 30L)).toDF("k", "v"), l)
      val before = rowsOf(l)
      // simulate a predecessor that died AFTER claiming the next epoch
      // name but BEFORE publishing its marker: a v=1 dir with garbage
      // content and no _log/1.commit
      val orphan = new java.io.File(out, "v=1")
      orphan.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(orphan, "junk.txt").toPath, "half-claimed epoch")
      // readers ignore the orphan outright (markers are ground truth)
      assert(rowsOf(l) == before)
      // the next compact deletes the dead claim and commits cleanly
      // (claiming an epoch number ≥ the orphan's is fine — the name is
      // free again after recovery)
      LsmIndex.compact(spark, l)()
      assert(rowsOf(l) == before)
      assert(!new java.io.File(orphan, "junk.txt").exists())
      // the artifact converged to exactly one live, committed epoch
      val live = epochDirs(out)
      assert(live.size == 1, s"expected one live epoch, got $live")
    }

    protoTest("a fold that merges rows is applied exactly once per compaction") {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val (_, l) = layout(bucketed = false)
      // same key in both generations: the fold must sum them into one row
      LsmIndex.write(Seq((1L, 5L), (2L, 7L)).toDF("k", "v"), l)
      LsmIndex.append(Seq((1L, 3L)).toDF("k", "v"), l)
      LsmIndex.compact(spark, l)(_.groupBy("k").agg(sum("v").as("v")))
      assert(rowsOf(l) == Set((1L, 8L), (2L, 7L)))
      // idempotent at the data level: compacting again changes nothing
      LsmIndex.compact(spark, l)(_.groupBy("k").agg(sum("v").as("v")))
      assert(rowsOf(l) == Set((1L, 8L), (2L, 7L)))
    }

    // an erase racing a rebuild, stopped at the rebuild's claim (before
    // its marker) or just after its marker (before its vacuum): either
    // way the erased vector must not serve from the rebuilt index
    for ((point, atClaim) <- Seq("claim" -> true, "marker" -> false))
      protoTest(s"an erase at a rebuild's $point survives the rebuild") {
        import graft.ops.Similarity
        val ivf = java.nio.file.Files.createTempDirectory("graft_lsm_race").toString
        val victim = 7L
        Similarity.writeIvfIndex(spark, embsDir, ivf)
        assert(neighbours(ivf, victim).head == victim)
        SnapshotLog.withProtocol(new HookedProtocol(proto, atClaim)(
            Similarity.deleteIvfVectors(spark, ivf, Seq(victim)))) {
          Similarity.writeIvfIndex(spark, embsDir, ivf)
        }
        val served = neighbours(ivf, victim)
        assert(served.nonEmpty && !served.contains(victim), s"erased $victim served: $served")
      }

    protoTest("an erase at a compaction's claim is carried into the new epoch") {
      import spark.implicits._
      val (out, l) = layout(bucketed = true)
      LsmIndex.write((0L until 8L).map(k => (k, k * 10)).toDF("k", "v"), l)
      LsmIndex.append((8L until 12L).map(k => (k, k * 10)).toDF("k", "v"), l)
      SnapshotLog.withProtocol(new HookedProtocol(proto, atClaim = true)(
          LsmIndex.erase(l, "k", Seq(5L)))) {
        LsmIndex.compact(spark, l)()
      }
      assert(epochDirs(out) == Set("v=1"))
      assert(rowsOf(l) == (0L until 12L).filter(_ != 5L).map(k => (k, k * 10)).toSet)
      assert(eraseFiles(out).size == 1, "the late erase is the new epoch's one record")
    }

    protoTest("erase drops rows from every read, is idempotent, and compact drops them physically") {
      import spark.implicits._
      val (out, l) = layout(bucketed = true)
      val all = (0L until 12L).map(k => (k, k * 10)).toSet
      LsmIndex.write((0L until 8L).map(k => (k, k * 10)).toDF("k", "v"), l)
      LsmIndex.append((8L until 12L).map(k => (k, k * 10)).toDF("k", "v"), l)
      val data = fileListing(out).filter(_._1.endsWith(".parquet"))
      LsmIndex.erase(l, "k", Seq(9L, 3L, 9L))
      val kept = all.filterNot(r => r._1 == 3L || r._1 == 9L)
      assert(rowsOf(l) == kept)
      assert(LsmIndex.readByGen(spark, l).select("k").as[Long].collect().toSet == kept.map(_._1))
      // bucket 1 = k ≡ 1 (mod 4): 1, 5 and the erased 9
      assert(LsmIndex.prunedRead(spark, l, Seq(1L)).select("k").as[Long].collect().toSet ==
        Set(1L, 5L))
      assert(fileListing(out).filter(_._1.endsWith(".parquet")) == data, "data files touched")
      // a repeated erase, a subset and an empty one change nothing on disk
      val once = fileListing(out)
      LsmIndex.erase(l, "k", Seq(3L, 9L))
      LsmIndex.erase(l, "k", Seq(9L))
      LsmIndex.erase(l, "k", Nil)
      assert(fileListing(out) == once)
      assert(rowsOf(l) == kept)
      // a session that never saw the erase serves it too
      assert(LsmIndex.read(spark.newSession(), l).count() == kept.size)
      LsmIndex.compact(spark, l)()
      assert(rowsOf(l) == kept)
      assert(eraseFiles(out).isEmpty, "compact left an erase record")
      assert(spark.read.parquet(s"$out/v=1").count() == kept.size, "erased rows left on disk")
    }
  }

  test("appends take the next generation: gen=1 then gen=2, both read, compact folds them into gen=0") {
    import spark.implicits._
    val (out, l) = layout(bucketed = true)
    def gens(): Set[String] = new java.io.File(out, "v=0").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      .map(_.getName).toSet
    LsmIndex.write((0L until 8L).map(k => (k, k * 10)).toDF("k", "v"), l)
    LsmIndex.append((8L until 12L).map(k => (k, k * 10)).toDF("k", "v"), l)
    LsmIndex.append((12L until 14L).map(k => (k, k * 10)).toDF("k", "v"), l)
    assert(gens() == Set("gen=0", "gen=1", "gen=2"))
    val byGen = LsmIndex.readByGen(spark, l).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Number]("gen").longValue).toMap
    assert(byGen == (0L until 14L).map(k => k -> (if (k < 8) 0L else if (k < 12) 1L else 2L)).toMap)
    LsmIndex.compact(spark, l)()
    assert(rowsOf(l) == (0L until 14L).map(k => (k, k * 10)).toSet)
    assert(LsmIndex.readByGen(spark, l).select("gen").distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet == Set(0L))
    assert(epochDirs(out) == Set("v=1"))
  }

  test("appending to an artifact with no committed epoch throws and writes nothing") {
    import spark.implicits._
    val (out, l) = layout(bucketed = false)
    intercept[IllegalArgumentException](
      LsmIndex.append(Seq((1L, 10L)).toDF("k", "v"), l))
    assert(!new java.io.File(out).exists())
  }

  test("a re-build (write over an existing artifact) supersedes via a fresh epoch, never in place") {
    import spark.implicits._
    val (out, l) = layout(bucketed = false)
    LsmIndex.write(Seq((1L, 10L)).toDF("k", "v"), l)
    LsmIndex.write(Seq((2L, 99L)).toDF("k", "v"), l)
    assert(rowsOf(l) == Set((2L, 99L)))
    assert(epochDirs(out) == Set("v=1"), "old epoch vacuumed after the marker")
  }
}
