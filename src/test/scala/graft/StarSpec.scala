package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{SnapshotLog, Star}

/** Unit layer from SURVEY.md §5: the cumulative-GPA window (A15) checked
  * against a brute-force Scala fold, plus the grade map and deterministic
  * rounding helpers. */
class StarSpec extends AnyFunSuite with SparkTestBase {

  test("bobotExpr maps every grade and defaults unknown to 0.0") {
    import spark.implicits._
    val df = (Star.gradeWeights.map(_._1) :+ "XX").toDF("huruf")
      .select(col("huruf"), Star.bobotExpr(col("huruf")).as("bobot"))
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Star.gradeWeights.foreach { case (h, w) => assert(got(h) == w) }
    assert(got("XX") == 0.0)
  }

  test("round2 is floor(x*100 + 0.5)/100 on the exact double") {
    import spark.implicits._
    val vals = Seq(2.675, 3.14159, 0.005, 1.0, 0.0, 2.999)
    val got = vals.toDF("x").select(Star.round2(col("x")).as("r"))
      .collect().map(_.getDouble(0))
    val want = vals.map(v => math.floor(v * 100 + 0.5) / 100)
    assert(got.toSeq == want)
  }

  test("semesterFact IPS/IPK (A14/A15) match a brute-force fold") {
    // student 1: 2023 Gasal {AF sks3, NF sks2}, 2023 Genap {RO sks4}
    val dir = writeMiniStar(Seq(
      (1L, 1L, 101L, "2023-03-15", "A", "F", 3.0),
      (1L, 1L, 102L, "2023-03-15", "N", "F", 2.0),
      (2L, 1L, 103L, "2023-09-01", "R", "O", 4.0)))
    val rows = Star.semesterFact(spark, dir)
      .orderBy("tahun", "semester")
      .collect()
      .map(r => (r.getAs[Long]("tahun"), r.getAs[String]("semester"),
        r.getAs[Double]("ips"), r.getAs[Double]("ipk"), r.getAs[String]("rep_huruf")))

    // brute-force fold in chronological order
    val sems = Seq(
      (2023L, "Gasal", Seq((3.0, 4.0), (2.0, 3.0))), // (sks, bobot)
      (2023L, "Genap", Seq((4.0, 0.0))))
    var cumBm = 0.0; var cumSks = 0.0
    val want = sems.map { case (t, sm, cs) =>
      val bm = cs.map(c => c._1 * c._2).sum; val sk = cs.map(_._1).sum
      cumBm += bm; cumSks += sk
      (t, sm, math.floor(bm / sk * 100 + 0.5) / 100,
        math.floor(cumBm / cumSks * 100 + 0.5) / 100)
    }
    assert(rows.length == 2)
    rows.zip(want).foreach { case ((t, sm, ips, ipk, _), (wt, wsm, wips, wipk)) =>
      assert((t, sm) == (wt, wsm)); assert(ips == wips); assert(ipk == wipk)
    }
    // rep_huruf = max-weight grade of the semester
    assert(rows(0)._5 == "AF")
    assert(rows(1)._5 == "RO")
  }

  test("withSurrogateId equals the global rank without a global window") {
    import spark.implicits._
    // deliberately unsorted, multi-partition distinct keys
    val keys = scala.util.Random.shuffle((1L to 997L).toList)
    val df = spark.createDataset(keys).toDF("k").repartition(7)
    val got = graft.etl.StarBuilder.withSurrogateId(df, "id", Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("id")).toMap
    (1L to 997L).foreach { k => assert(got(k) == k, s"key $k") }
    // and twice in a row is identical (deterministic despite range sampling)
    val again = graft.etl.StarBuilder.withSurrogateId(df, "id", Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("id")).toMap
    assert(got == again)
  }

  test("withSurrogateId reliable-checkpoint knob pins the partitioning on disk") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val keys = scala.util.Random.shuffle((1L to 503L).toList)
    val df = spark.createDataset(keys).toDF("k").repartition(5)
    // explicit param form (the session-conf form graft.surrogate.checkpoint.dir
    // takes the same code path via orElse)
    val got = graft.etl.StarBuilder.withSurrogateId(df, "id", Seq("k"), Some(ckpt))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("id")).toMap
    (1L to 503L).foreach { k => assert(got(k) == k, s"key $k") }
    // the pin actually hit reliable storage, not just executor memory
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    assert(files(new java.io.File(ckpt)).nonEmpty, "checkpoint dir must contain RDD data")
  }

  test("upsertDim: stable ids across increments, updates attrs, idempotent") {
    import spark.implicits._
    import graft.etl.StarBuilder.upsertDim
    def ids(df: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] =
      df.collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("id"), r.getAs[String]("attr"))).toMap

    val base = Seq(("a", "x1"), ("b", "x2"), ("c", "x3")).toDF("k", "attr")
    val dim0 = graft.etl.StarBuilder.withSurrogateId(base, "id", Seq("k"))
    val d0 = ids(dim0)
    assert(d0.keySet == Set("a", "b", "c") && d0.values.map(_._1).toSet == Set(1L, 2L, 3L))

    // WHEN MATCHED THEN UPDATE (b gets a new attr, keeps id) +
    // WHEN NOT MATCHED THEN INSERT (d, e get max+rank ids) + no DELETE (a, c kept)
    val inc = Seq(("b", "y2"), ("e", "y5"), ("d", "y4")).toDF("k", "attr")
    val dim1 = upsertDim(dim0, inc, "id", Seq("k"))
    val d1 = ids(dim1)
    assert(d1("a") == d0("a") && d1("c") == d0("c"))
    assert(d1("b")._1 == d0("b")._1 && d1("b")._2 == "y2")
    assert(d1("d") == (4L, "y4") && d1("e") == (5L, "y5"))

    // idempotent: re-applying the same increment changes nothing
    assert(ids(upsertDim(dim1, inc, "id", Seq("k"))) == d1)

    // increment-split stability: one-shot over the union gives ids that
    // agree on the base prefix (new keys rank after existing ones)
    val oneShot = ids(graft.etl.StarBuilder.withSurrogateId(
      Seq(("a", "x1"), ("b", "y2"), ("c", "x3"), ("d", "y4"), ("e", "y5")).toDF("k", "attr"),
      "id", Seq("k")))
    assert(oneShot.forall { case (k, (_, attr)) => d1(k)._2 == attr })
  }

  test("incremental dim loads converge to the one-shot state (A10/A17 semantics)") {
    import spark.implicits._
    import graft.etl.StarBuilder.{upsertDim, withSurrogateId}
    // the same key set arriving as 1 batch vs 3 increments must yield the
    // same key->attribute mapping, with ids stable once assigned — the
    // property that makes incremental ETL equivalent to full refresh
    val batches = Seq(
      Seq(("a", "v1"), ("b", "v1")),
      Seq(("b", "v2"), ("c", "v1")),          // update b, insert c
      Seq(("a", "v3"), ("d", "v1"), ("e", "v1")))
    var dim = withSurrogateId(batches.head.toDF("k", "attr"), "id", Seq("k"))
    val idAfterBatch1 = dim.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("id")).toMap
    batches.tail.foreach { b => dim = upsertDim(dim, b.toDF("k", "attr"), "id", Seq("k")) }
    val got = dim.collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"), r.getAs[String]("attr")))
    // latest attribute wins per key
    assert(got.map(t => t._1 -> t._3).toMap ==
      Map("a" -> "v3", "b" -> "v2", "c" -> "v1", "d" -> "v1", "e" -> "v1"))
    // ids unique, and stable for the keys that existed after batch 1
    val ids = got.map(t => t._1 -> t._2).toMap
    assert(ids.values.toSet.size == ids.size)
    assert(ids("a") == idAfterBatch1("a") && ids("b") == idAfterBatch1("b"))
  }

  test("SessionMemo returns the same frame per key and distinct frames per dir") {
    import spark.implicits._
    var builds = 0
    def build(tag: String) = { builds += 1; Seq(tag).toDF("t") }
    val a1 = graft.SessionMemo(spark, "dirA", "test:memo")(build("a"))(identity)
    val a2 = graft.SessionMemo(spark, "dirA", "test:memo")(build("a"))(identity)
    val b = graft.SessionMemo(spark, "dirB", "test:memo")(build("b"))(identity)
    assert(a1 eq a2)          // cached: second call must not rebuild
    assert(builds == 2)       // one build per (dir, key)
    assert(b.collect().head.getString(0) == "b") // no cross-dir contamination
  }

  test("parquet mergeSchema reads mixed-schema increments (schema evolution)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
    // batch 1 without the later-added column, batch 2 with it
    Seq((1L, "x")).toDF("id", "a").write.mode("append").parquet(dir)
    Seq((2L, "y", 9L)).toDF("id", "a", "extra").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("a", "extra", "id"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getAs[Any]("extra") == null) // old rows null-fill the new column
    assert(rows(1).getAs[Long]("extra") == 9L)
  }

  test("upsertDim rejects duplicate natural keys in the increment (MERGE fail-fast)") {
    import spark.implicits._
    val base = Seq(("a", "x1")).toDF("k", "attr")
    val dim0 = graft.etl.StarBuilder.withSurrogateId(base, "id", Seq("k"))
    val dupInc = Seq(("b", "y1"), ("b", "y2")).toDF("k", "attr")
    val e = intercept[IllegalArgumentException] {
      graft.etl.StarBuilder.upsertDim(dim0, dupInc, "id", Seq("k"))
    }
    assert(e.getMessage.contains("multiple incoming rows"))
  }

  test("versioned warehouse: pinned readers survive refreshes and aborted writes") {
    import graft.etl.StarBuilder
    val dir1 = writeMiniStar(Seq(
      (1L, 1L, 101L, "2023-03-15", "A", "F", 3.0),
      (2L, 1L, 103L, "2023-09-01", "R", "O", 4.0)))
    val dir2 = writeMiniStar(Seq(
      (1L, 1L, 101L, "2023-03-15", "A", "F", 3.0),
      (2L, 1L, 103L, "2023-09-01", "R", "O", 4.0),
      (3L, 2L, 104L, "2024-03-01", "A", "O", 2.0)))
    val wh = java.nio.file.Files.createTempDirectory("graft_versioned").toString
    def factRows(version: Option[Long]): Set[(Long, Long, Long)] =
      StarBuilder.readAt(spark, wh, "fact_nilai_mk", version)
        .select("student", "course", "tahun").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet

    val v1 = StarBuilder.writeAllVersioned(spark, dir1, wh)
    assert(v1 == 1L)
    val pinned = factRows(Some(v1))
    assert(pinned.size == 2)

    // a refresh lands as v2: the v1-pinned reader sees the identical
    // rows afterwards (snapshots are immutable), latest resolves to v2
    val v2 = StarBuilder.writeAllVersioned(spark, dir2, wh)
    assert(v2 == 2L)
    assert(factRows(Some(v1)) == pinned)
    assert(SnapshotLog.latestVersion(wh).contains(2L))
    assert(factRows(None).size == 3)

    // a writer killed mid-snapshot: v=3 table data exists but its
    // commit marker never landed — readers still resolve v2, and a
    // pin to the orphan refuses instead of serving half a write
    StarBuilder.writeAll(spark, dir1, s"$wh/v=3")
    assert(SnapshotLog.latestVersion(wh).contains(2L))
    assert(factRows(None).size == 3)
    val e = intercept[IllegalArgumentException] {
      StarBuilder.readAt(spark, wh, "fact_nilai_mk", Some(3L))
    }
    assert(e.getMessage.contains("not committed"))
    // a crashed committer's leftover in _log must be ignored, not crash
    // every subsequent reader on the name parse
    java.nio.file.Files.write(
      new java.io.File(s"$wh/_log", ".staging_junk.commit").toPath,
      Array.emptyByteArray)
    assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L))
    // the next writer CLAIMS PAST the orphaned v=3 (rename onto an
    // existing dir fails → bump), so the orphan is never overwritten
    // and the new snapshot commits as v=4
    val v4 = StarBuilder.writeAllVersioned(spark, dir2, wh)
    assert(v4 == 4L)
    assert(SnapshotLog.committedVersions(wh) == Seq(1L, 2L, 4L))
    assert(factRows(Some(4L)).size == 3)
  }

  test("tableDiff: CDC classification is null-safe and drops unchanged keys") {
    import spark.implicits._
    import graft.etl.StarBuilder.tableDiff
    val old = Seq(
      (1L, Option("a"), Option(1.0)),  // only in old → delete
      (2L, Option("b"), Option(2.0)),  // identical both sides → NO row
      (3L, Option.empty[String], Option(3.0)), // null → "c": update (null-safe)
      (4L, Option("d"), Option(4.0)),  // numeric change → update
      (6L, Option.empty[String], Option.empty[Double])) // all-null, same → NO row
      .toDF("k", "s", "x")
    val neu = Seq(
      (2L, Option("b"), Option(2.0)),
      (3L, Option("c"), Option(3.0)),
      (4L, Option("d"), Option(9.0)),
      (5L, Option.empty[String], Option.empty[Double]), // all-null insert: the
      (6L, Option.empty[String], Option.empty[Double])) // presence-marker case
      .toDF("k", "s", "x")
    val got = tableDiff(old, neu, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("change_type"),
          Option(r.getAs[String]("old_s")), Option(r.getAs[String]("new_s")))).toMap
    assert(got.keySet == Set(1L, 3L, 4L, 5L)) // 2 and 6 (unchanged) absent
    assert(got(1L)._1 == "delete" && got(1L)._2.contains("a") && got(1L)._3.isEmpty)
    assert(got(3L) == ("update", None, Some("c")))
    assert(got(4L)._1 == "update")
    assert(got(5L)._1 == "insert" && got(5L)._2.isEmpty && got(5L)._3.isEmpty)
  }

  test("tableDiff schema evolution: a column added in the new snapshot") {
    import spark.implicits._
    import graft.etl.StarBuilder.tableDiff
    val old = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val neu = Seq(
      (1L, "a", Option(7L)),              // new col non-null → update
      (2L, "b", Option.empty[Long]))      // new col null ≡ old's absent-null → NO row
      .toDF("k", "s", "extra")
    val feed = tableDiff(old, neu, Seq("k"))
    val got = feed.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"),
        Option(r.getAs[java.lang.Long]("old_extra")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("new_extra")).map(_.longValue)))
    assert(got.toSeq == Seq((1L, "update", None, Some(7L))))
    // the absent-side column is a TYPED null: the feed itself must be
    // persistable (a void column would fail the parquet write)
    val out = java.nio.file.Files.createTempDirectory("graft_feed").toString
    feed.write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() == 1L)
  }

  test("applyChanges: a key column named new_* is not mistaken for a value column") {
    import spark.implicits._
    import graft.etl.StarBuilder.{applyChanges, tableDiff}
    val base = Seq(("new_a", 1.0)).toDF("new_id", "x")
    val neu = Seq(("new_a", 2.0), ("new_b", 3.0)).toDF("new_id", "x")
    val applied = applyChanges(base, tableDiff(base, neu, Seq("new_id")), Seq("new_id"))
    assert(applied.columns.toSeq == Seq("new_id", "x")) // no phantom "id"
    assert(applied.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      == Map("new_a" -> 2.0, "new_b" -> 3.0))
  }

  /** The claim-then-commit protocol's liveness/uniqueness under real
    * contention: N threads race writeTableVersioned on one warehouse;
    * every writer must land on its own version, every version must be
    * log-committed and readable, and no staging dir may survive.
    * Shared by the rename-protocol and conditional-PUT-protocol tests
    * (the r10 CommitProtocol seam: same publish logic, both storages). */
  private def stressSixWriters(): Unit = {
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_mw").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val writes = (1 to 6).map { i =>
      scala.concurrent.Future {
        StarBuilder.writeTableVersioned(Seq((i.toLong, i * 1.0)).toDF("k", "x"), wh, "t")
      }
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(writes),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(versions.sorted == (1L to 6L))
    assert(SnapshotLog.committedVersions(wh) == (1L to 6L))
    (1L to 6L).foreach { v =>
      assert(StarBuilder.readAt(spark, wh, "t", Some(v)).count() == 1L)
    }
    assert(!new java.io.File(wh).listFiles().exists(_.getName.startsWith(".txn_")))
  }

  test("concurrent full-refresh writers all commit distinct versions") {
    stressSixWriters()
  }

  test("conditional-PUT protocol: six racing writers, same guarantees") {
    SnapshotLog.withProtocol(
      new graft.etl.ConditionalPutCommitProtocol)(stressSixWriters())
  }

  private def occRefusalScenario(): Unit = {
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_occ").toString
    StarBuilder.writeTableVersioned(Seq((1L, 1.0)).toDF("k", "x"), wh, "t")
    // another writer claims v=2 between this writer's read and commit
    new java.io.File(s"$wh/v=2").mkdirs()
    intercept[java.util.ConcurrentModificationException] {
      StarBuilder.deleteWhere(spark, wh, "t", col("x") > 0.0)
    }
    // the failed attempt cleaned its staging dir and changed nothing
    assert(!new java.io.File(wh).listFiles().exists(_.getName.startsWith(".txn_")))
    assert(SnapshotLog.committedVersions(wh) == Seq(1L))
    assert(StarBuilder.readAt(spark, wh, "t", None).count() == 1L)
    // the orphan claim would block cur+1 retries FOREVER (it never
    // commits); the single-writer recovery sweeps it — and also reclaims
    // a pre-claim crash's staging dir, which nothing else ever touches
    new java.io.File(wh, ".txn_deadbeef").mkdirs()
    assert(SnapshotLog.recoverUncommitted(wh) == Seq(2L))
    assert(!new java.io.File(wh, ".txn_deadbeef").exists())
    val v2 = StarBuilder.deleteWhere(spark, wh, "t", col("x") > 0.0)
    assert(v2 == 2L && StarBuilder.readAt(spark, wh, "t", None).count() == 0L)
  }

  test("read-modify-write commits refuse to paper over a concurrent claim") {
    occRefusalScenario()
  }

  test("conditional-PUT protocol: OCC refusal + recovery, same guarantees") {
    // the delete in recoverUncommitted frees the claimed NAME for the
    // conditional-PUT protocol too (the store is the ground truth — no
    // side-channel state survives the delete), so the post-recovery
    // retry must succeed exactly as on the rename path
    SnapshotLog.withProtocol(
      new graft.etl.ConditionalPutCommitProtocol)(occRefusalScenario())
  }

  test("snapshotDiff resolves both sides through the version log") {
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val v1 = StarBuilder.writeTableVersioned(
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"), wh, "t")
    val v2 = StarBuilder.writeTableVersioned(
      Seq((2L, 21.0), (3L, 30.0)).toDF("k", "x"), wh, "t")
    assert((v1, v2) == (1L, 2L))
    val feed = StarBuilder.snapshotDiff(spark, wh, "t", v1, v2, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type")).toMap
    assert(feed == Map(1L -> "delete", 2L -> "update", 3L -> "insert"))
    // the feed must come FROM the snapshots: a later version landing
    // does not change the v1→v2 diff
    StarBuilder.writeTableVersioned(Seq((9L, 90.0)).toDF("k", "x"), wh, "t")
    val again = StarBuilder.snapshotDiff(spark, wh, "t", v1, v2, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type")).toMap
    assert(again == feed)
  }

  test("applyChanges widens the base when the feed carries an added column") {
    import spark.implicits._
    import graft.etl.StarBuilder.{applyChanges, tableDiff}
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    val neu = Seq(
      (1L, "a", Option(7L)),          // update: extra appears
      (2L, "b", Option.empty[Long]),  // unchanged (null ≡ absent) → passthrough
      (4L, "d", Option(8L)))          // insert; 3 deleted
      .toDF("k", "s", "extra")
    val applied = applyChanges(old, tableDiff(old, neu, Seq("k")), Seq("k"))
    val got = applied.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
        Option(r.getAs[java.lang.Long]("extra")).map(_.longValue)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", Some(7L)), (2L, "b", None), (4L, "d", Some(8L))))
  }

  test("deletion vectors: soft delete never rewrites data files; compaction materializes") {
    import spark.implicits._
    import graft.etl.StarBuilder
    def md5s(dir: java.io.File): Map[String, String] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getName -> java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString
        }.toMap
    val wh = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val v1 = StarBuilder.writeTableVersioned(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "x"), wh, "t")
    def liveKeys(v: Option[Long] = None): Set[Long] =
      StarBuilder.readAt(spark, wh, "t", v).select("k").as[Long].collect().toSet

    val v2 = StarBuilder.deleteWhere(spark, wh, "t", col("x") < 1.5) // drops k=1
    // the DV contract: data files are BYTE-identical copies, only the
    // sidecar is new — and the pinned previous version is untouched
    assert(md5s(new java.io.File(s"$wh/v=$v2/t")) == md5s(new java.io.File(s"$wh/v=$v1/t")))
    assert(new java.io.File(s"$wh/v=$v2/_dv/t").isDirectory)
    assert(liveKeys() == Set(2L, 3L, 4L))
    assert(liveKeys(Some(v1)) == Set(1L, 2L, 3L, 4L))
    // a plain parquet reader sees all physical rows (the `_dv` sidecar
    // is hidden) — the documented reason readers go through the log
    assert(spark.read.parquet(s"$wh/v=$v2/t").count() == 4L)

    // a second delete UNIONs into the sidecar; re-deleting an
    // already-deleted row is a no-op (predicate runs on the live view)
    val v3 = StarBuilder.deleteWhere(spark, wh, "t", col("x") < 1.5 || col("x") > 3.5)
    assert(liveKeys() == Set(2L, 3L))
    assert(md5s(new java.io.File(s"$wh/v=$v3/t")) == md5s(new java.io.File(s"$wh/v=$v1/t")))

    // the 100 TB contract: the kilobyte sidecar broadcasts, the base
    // scan never shuffles for the anti-join — pinned on the plan, for
    // the whole-table read and the manifest-pruned read alike
    val sw = java.nio.file.Files.createTempDirectory("graft_dv_pruned").toString
    StarBuilder.writeTableVersionedStats(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "x"), sw, "t",
      sortBy = Seq("k"), statsCols = Seq("k"))
    StarBuilder.deleteWhere(spark, sw, "t", col("x") < 1.5)
    Seq(StarBuilder.readAt(spark, wh, "t", Some(v3)),
        StarBuilder.readAtPruned(spark, sw, "t", "k", 1L, 2L)).foreach { df =>
      val tree = df.queryExecution.sparkPlan.treeString
      assert(tree.contains("BroadcastHashJoin") && tree.contains("LeftAnti"),
        s"DV application should be a broadcast anti-join:\n$tree")
    }

    // compaction folds the sidecar into a real rewrite: no _dv in the
    // new version, physical rows == live rows, content unchanged
    val v4 = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    assert(!new java.io.File(s"$wh/v=$v4/_dv").exists())
    assert(spark.read.parquet(s"$wh/v=$v4/t").count() == 2L)
    assert(liveKeys() == Set(2L, 3L))
    assert(liveKeys(Some(v3)) == Set(2L, 3L)) // DV version still serves
  }

  test("DV on a partitioned fact: compaction materializes and keeps the tahun layout") {
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_part").toString
    StarBuilder.writeAllVersioned(spark, "/root/testdata/sf0.001", wh)
    val pre = StarBuilder.readAt(spark, wh, "fact_nilai_mk", None).count()
    StarBuilder.deleteWhere(spark, wh, "fact_nilai_mk", col("sks") < 10.0)
    val live = StarBuilder.readAt(spark, wh, "fact_nilai_mk", None).count()
    assert(live > 0 && live < pre)
    val v = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    val factDir = new java.io.File(s"$wh/v=$v/fact_nilai_mk")
    // the k=v partition layout survives the materializing rewrite —
    // time-range partition pruning must not be lost to a compaction
    assert(factDir.listFiles().exists(f => f.isDirectory && f.getName.startsWith("tahun=")))
    assert(!new java.io.File(s"$wh/v=$v/_dv").exists())
    assert(StarBuilder.readAt(spark, wh, "fact_nilai_mk", None).count() == live)
    assert(spark.read.parquet(factDir.toString).count() == live) // deletes folded
  }

  test("CDC over a deletion-vector transition: the feed is exactly the deleted rows") {
    import spark.implicits._
    import graft.etl.StarBuilder
    // the two lakehouse features compose: snapshotDiff reads both sides
    // through readAt, so a deleteWhere version boundary surfaces as a
    // pure-delete change feed carrying the deleted rows' old images
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_cdc").toString
    val v1 = StarBuilder.writeTableVersioned(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "x"), wh, "t")
    val v2 = StarBuilder.deleteWhere(spark, wh, "t", col("x") < 2.5)
    val feed = StarBuilder.snapshotDiff(spark, wh, "t", v1, v2, Seq("k"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"),
        r.getAs[Double]("old_x"))).sortBy(_._1)
    assert(feed.toSeq == Seq((1L, "delete", 1.0), (2L, "delete", 2.0)))
    // and applying that feed to the pinned pre-delete snapshot yields
    // the live post-delete view — CDC replays a DV delete faithfully
    val applied = StarBuilder.applyChanges(
        StarBuilder.readAt(spark, wh, "t", Some(v1)),
        StarBuilder.snapshotDiff(spark, wh, "t", v1, v2, Seq("k")), Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("x")).toMap
    assert(applied == Map(3L -> 3.0))
  }

  test("compactVersioned commits a packed snapshot; vacuum drops versions marker-first") {
    import graft.etl.StarBuilder
    // the real sf0.001 star: the salted fact write spreads each year
    // over several tasks, so year leaves hold multiple small files —
    // the state snapshot compaction exists for
    val dir = "/root/testdata/sf0.001"
    val wh = java.nio.file.Files.createTempDirectory("graft_cow").toString
    val v1 = StarBuilder.writeAllVersioned(spark, dir, wh)
    val tahun = new java.io.File(s"$wh/v=$v1/fact_nilai_mk").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("tahun=")).head.getName
    def factLeaf(v: Long) = new java.io.File(s"$wh/v=$v/fact_nilai_mk/$tahun")
    // fragment the witness leaf in place — same rows, 4 small files —
    // simulating the accumulation incremental appends leave behind
    val leaf1 = factLeaf(v1)
    val frag = java.nio.file.Files.createTempDirectory("graft_cow_frag").toString
    spark.read.parquet(leaf1.toString).repartition(4)
      .write.mode("overwrite").parquet(frag)
    leaf1.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    new java.io.File(frag).listFiles().filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(leaf1, s"part-frag-$i.parquet").toPath)
      }
    def md5s(d: java.io.File): Map[String, String] =
      d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getName -> h.map("%02x".format(_)).mkString
      }.toMap
    val v1Files = md5s(factLeaf(v1))
    assert(v1Files.size > 1, s"fixture should fragment the fact (got ${v1Files.size} files)")
    def factRows(v: Long): Seq[(Long, Long)] =
      StarBuilder.readAt(spark, wh, "fact_nilai_mk", Some(v))
        .select("student", "course").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val rowsV1 = factRows(v1)

    // copy-on-write compaction: a NEW committed version with the fact
    // leaf packed to one file; the source snapshot is byte-untouched
    val v2 = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    assert(v2 == v1 + 1)
    assert(SnapshotLog.committedVersions(wh) == Seq(v1, v2))
    assert(md5s(factLeaf(v2)).size == 1)
    assert(factRows(v2) == rowsV1)
    assert(md5s(factLeaf(v1)) == v1Files) // v1 pins still serve identical bytes

    // retention: the marker goes first, then the data dir — v1 stops
    // resolving and its directory is gone; latest still serves
    assert(StarBuilder.vacuumVersions(wh, keep = 1) == Seq(v1))
    assert(SnapshotLog.committedVersions(wh) == Seq(v2))
    assert(!new java.io.File(s"$wh/v=$v1").exists())
    assert(factRows(v2) == rowsV1)
    intercept[IllegalArgumentException] {
      StarBuilder.readAt(spark, wh, "fact_nilai_mk", Some(v1))
    }
  }

  test("vacuum that cannot delete a marker throws and leaves that version serving") {
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_vacfail").toString
    val v1 = StarBuilder.writeTableVersioned(Seq((1L, 1.0)).toDF("k", "x"), wh, "t")
    StarBuilder.writeTableVersioned(Seq((2L, 2.0)).toDF("k", "x"), wh, "t")
    // a marker the filesystem refuses to delete: a non-empty directory
    // under the marker's name still resolves v1 as committed
    val marker = new java.io.File(s"$wh/_log/$v1.commit")
    assert(marker.delete())
    new java.io.File(marker, "pinned").mkdirs()
    assert(SnapshotLog.committedVersions(wh).contains(v1))
    intercept[java.io.IOException] {
      StarBuilder.vacuumVersions(wh, keep = 1)
    }
    // the version still resolves, so its data must still be there
    assert(SnapshotLog.committedVersions(wh).contains(v1))
    assert(StarBuilder.readAt(spark, wh, "t", Some(v1)).count() == 1L)
  }

  test("readAsOf: timestamp time travel resolves the latest commit at the instant") {
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_asof").toString
    val v1 = StarBuilder.writeTableVersioned(Seq((1L, 10L)).toDF("k", "n"), wh, "t")
    val v2 = StarBuilder.writeTableVersioned(Seq((1L, 11L), (2L, 20L)).toDF("k", "n"), wh, "t")
    // real markers carry their commit instant in the BODY (granularity-
    // proof) — and history() only trusts a body that parses as a
    // PLAUSIBLE epoch-millis (12-13 digits, 2001..2099), so the pinned
    // instants here must be realistic; check both resolution paths by
    // pinning v1 via body and v2 via the pre-r11 zero-byte + mtime
    // fallback
    val T0 = 1700000000000L
    def setCommitBody(v: Long, ms: Long): Unit =
      java.nio.file.Files.write(
        new java.io.File(s"$wh/_log/$v.commit").toPath,
        String.valueOf(ms).getBytes("UTF-8"))
    def setCommitTime(v: Long, ms: Long): Unit = {
      java.nio.file.Files.write( // legacy marker: empty body
        new java.io.File(s"$wh/_log/$v.commit").toPath, Array.empty[Byte])
      java.nio.file.Files.setLastModifiedTime(
        new java.io.File(s"$wh/_log/$v.commit").toPath,
        java.nio.file.attribute.FileTime.fromMillis(ms))
    }
    setCommitBody(v1, T0 + 1000L)
    setCommitTime(v2, T0 + 2000L)
    assert(SnapshotLog.history(wh) == Seq(v1 -> (T0 + 1000L), v2 -> (T0 + 2000L)))
    // before the first commit: the table did not exist — refuse
    val e = intercept[IllegalArgumentException](
      SnapshotLog.versionAsOf(wh, T0 + 999L))
    assert(e.getMessage.contains("no snapshot"))
    // boundaries are inclusive; between commits resolves the older one
    assert(SnapshotLog.versionAsOf(wh, T0 + 1000L) == v1)
    assert(SnapshotLog.versionAsOf(wh, T0 + 1999L) == v1)
    assert(SnapshotLog.versionAsOf(wh, T0 + 2000L) == v2)
    assert(SnapshotLog.versionAsOf(wh, Long.MaxValue) == v2)
    assert(StarBuilder.readAsOf(spark, wh, "t", T0 + 1500L).count() == 1L)
    assert(StarBuilder.readAsOf(spark, wh, "t", T0 + 2500L).count() == 2L)
    // a restore that lost mtime order (cp without -p) must not
    // silently time-travel to a stale snapshot: resolution is
    // filter+max-version, not a scan that stops at the first
    // out-of-order marker
    setCommitTime(v1, T0 + 5000L)
    assert(SnapshotLog.versionAsOf(wh, T0 + 4000L) == v2)
    // the r11 advice scenario: a TRUNCATED numeric body ("17" of
    // "17230…") must NOT be trusted as a near-1970 instant — too few
    // digits, so resolution falls back to the file's mtime
    java.nio.file.Files.write(
      new java.io.File(s"$wh/_log/$v1.commit").toPath, "17".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime( // the write itself bumps mtime
      new java.io.File(s"$wh/_log/$v1.commit").toPath,
      java.nio.file.attribute.FileTime.fromMillis(T0 + 5000L))
    assert(SnapshotLog.history(wh).toMap.apply(v1) == (T0 + 5000L))
  }

  test("mergeInto: all four MERGE branches classify on one frame") {
    import spark.implicits._
    import graft.etl.StarBuilder.mergeInto
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, 100.0), (2L, 200.0), (3L, 300.0)).toDF("k", "v")
    val source = Seq(
      (1L, 111.0), // matched, cond false → UPDATE to source value
      (2L, 5.0),   // matched, cond true  → DELETE
      (4L, 444.0), // unmatched           → INSERT
      (5L, 7.0))   // unmatched, cond true → still INSERT (the ANSI rule)
      .toDF("k", "v")
    val got = mergeInto(base, source, Seq("k"), Some(col("v") < 50.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 111.0, 3L -> 300.0, 4L -> 444.0, 5L -> 7.0))
    // no delete clause → the matched small row updates instead
    val noDel = mergeInto(base, source, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(noDel(2L) == 5.0 && noDel.size == 5)
    // empty source → base passes through untouched
    val empty = mergeInto(base, source.where(col("k") < 0), Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(empty == Map(1L -> 100.0, 2L -> 200.0, 3L -> 300.0))
  }

  test("mergeInto schema evolution: UPDATE SET * keeps columns the source lacks") {
    import spark.implicits._
    import graft.etl.StarBuilder.mergeInto
    // base carries `b` (absent in source); source carries `c` (absent in
    // base): matched rows take source's a and c but KEEP base's b (the
    // Delta UPDATE SET * rule); inserts null the base-only column;
    // untouched base rows null the source-only column
    val base = Seq((1L, "a1", "b1"), (3L, "a3", "b3")).toDF("k", "a", "b")
    val source = Seq((1L, "A1", "c1"), (4L, "A4", "c4")).toDF("k", "a", "c")
    val got = mergeInto(base, source, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("a"), Option(r.getAs[String]("b")),
          Option(r.getAs[String]("c"))))).toMap
    assert(got == Map(
      1L -> (("A1", Some("b1"), Some("c1"))),
      3L -> (("a3", Some("b3"), None)),
      4L -> (("A4", None, Some("c4")))))
  }

  test("appendTableVersioned: schema evolves by append; base files stay byte-identical") {
    import spark.implicits._
    import graft.etl.StarBuilder
    val wh = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    val v1 = StarBuilder.writeTableVersioned(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "n"), wh, "t")
    def md5s(v: Long): Map[String, String] =
      new java.io.File(s"$wh/v=$v/t").listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          f.getName -> java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    val v1Files = md5s(v1)
    val v2 = StarBuilder.appendTableVersioned(
      Seq((3L, 30L, 3.5), (4L, 40L, 4.5)).toDF("k", "n", "extra"),
      wh, "t", from = v1)
    assert(v2 == v1 + 1)
    // the copied base files are byte-identical; only new files appeared
    val v2Files = md5s(v2)
    assert(v1Files.toSet.subsetOf(v2Files.toSet))
    assert(v2Files.size > v1Files.size)
    assert(md5s(v1) == v1Files)
    // the pinned old version still reads under its ORIGINAL schema
    assert(StarBuilder.readAt(spark, wh, "t", Some(v1)).columns.toSeq == Seq("k", "n"))
    // the merged read surfaces the union schema, nulls exactly where a
    // file predates the column
    val merged = StarBuilder.readAt(spark, wh, "t", mergeSchema = true)
      .select("k", "n", "extra").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Double]("extra")).map(_.doubleValue))).toSet
    assert(merged == Set((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some(3.5)), (4L, 40L, Some(4.5))))
    // dropping or retyping an existing column is a rewrite, not an append
    val e = intercept[IllegalArgumentException] {
      StarBuilder.appendTableVersioned(
        Seq((5L, 5.0)).toDF("k", "n"), wh, "t", from = v2)
    }
    assert(e.getMessage.contains("superset"))
    // deriving from an uncommitted/orphan version is refused (the readAt
    // orphan rule applies to writers too)
    val e2 = intercept[IllegalArgumentException] {
      StarBuilder.appendTableVersioned(
        Seq((6L, 60L, 6.5)).toDF("k", "n", "extra"), wh, "t", from = v2 + 7)
    }
    assert(e2.getMessage.contains("not committed"))
    // COMPACTION after evolution materializes the UNION schema: a repack
    // that let one narrow footer win schema inference would silently
    // delete the evolved column from the appended rows
    val v3 = StarBuilder.compactVersioned(spark, wh, targetBytes = 1L << 30)
    val packed = StarBuilder.readAt(spark, wh, "t", Some(v3))
    assert(packed.columns.toSet == Set("k", "n", "extra"))
    val packedRows = packed.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Double]("extra")).map(_.doubleValue))).toSet
    assert(packedRows == Set((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some(3.5)), (4L, 40L, Some(4.5))))
  }

  test("appendTableVersioned grows the stats and bloom sidecars of the table it appends to") {
    import spark.implicits._
    import graft.etl.{DataSkipping, StarBuilder}
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("graft_evsc").toString
    val v1 = StarBuilder.writeTableVersionedStats(
      (1L to 100L).map(k => (k, s"key_$k")).toDF("k", "key"), wh, "t",
      sortBy = Seq("k"), statsCols = Seq("k"), blockSize = 64 * 1024)
    DataSkipping.writeBloom(spark, s"$wh/v=$v1/t", "key")
    // every parquet file under the table, sidecar parts included
    def md5s(v: Long): Map[String, String] = {
      val root = new java.io.File(s"$wh/v=$v/t")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet")).map { f =>
        root.toPath.relativize(f.toPath).toString ->
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
      }.toMap
    }
    val base = md5s(v1)
    assert(base.keys.exists(_.startsWith("_idx/stats/")) &&
      base.keys.exists(_.startsWith("_idx/bloom/")))
    // a plain append, with an evolved column, onto the sidecar-carrying table
    val v2 = StarBuilder.appendTableVersioned(
      (101L to 110L).map(k => (k, s"key_$k", "x")).toDF("k", "key", "tag"),
      wh, "t", from = v1)
    assert(v2 == v1 + 1)
    // copied data files and sidecar parts are byte-identical
    val grown = md5s(v2)
    base.foreach { case (f, h) => assert(grown.get(f).contains(h), s"append rewrote $f") }
    assert(grown.size > base.size)
    // both sidecars serve the appended rows at the new version
    assert(StarBuilder.readAtPruned(spark, wh, "t", "k", 99L, 105L)
      .where(col("k").between(99L, 105L)).select("k").as[Long]
      .collect().sorted.toSeq == (99L to 105L))
    val probes = Seq("key_7", "key_107")
    assert(DataSkipping.bloomScan(spark, s"$wh/v=$v2/t", "key", probes)
      .where(col("key").isin(probes: _*)).select("k").as[Long]
      .collect().sorted.toSeq == Seq(7L, 107L))
  }

  test("partition evolution: snapshots may change layout; pinned readers are unaffected") {
    import spark.implicits._
    import graft.etl.StarBuilder
    import org.apache.spark.sql.functions.col
    // Iceberg-style partition evolution falls out of snapshot
    // self-containment: v1 commits unpartitioned, v2 repartitions by
    // `y` — readers resolve whichever layout their pin carries, and the
    // old snapshot's directory shape is untouched by the new commit
    val wh = java.nio.file.Files.createTempDirectory("graft_partev").toString
    val rows = Seq((1L, 2023L, 10L), (2L, 2023L, 20L), (3L, 2024L, 30L))
    val df = rows.toDF("k", "y", "n")
    val v1 = StarBuilder.writeTableVersioned(df, wh, "t")
    val v2 = StarBuilder.writeTableVersioned(df, wh, "t", partitionBy = Seq("y"))
    // v1 stays flat, v2 carries the hive layout — per-snapshot shapes
    assert(new java.io.File(s"$wh/v=$v1/t").listFiles()
      .forall(f => !f.getName.startsWith("y=")))
    assert(new java.io.File(s"$wh/v=$v2/t").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("y=")))
    // partition-dir values read back as the inferred (int) type — the
    // documented hive-layout tradeoff, normalized here for comparison
    def all(v: Long) = StarBuilder.readAt(spark, wh, "t", Some(v))
      .select("k", "y", "n").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("y").longValue, r.getLong(2))).toSet
    assert(all(v1) == rows.toSet)
    assert(all(v2) == rows.toSet)
    // the evolved layout prunes: a y-filtered scan of v2 reads only its
    // partition directory
    val pruned = StarBuilder.readAt(spark, wh, "t", Some(v2))
      .where(col("y") === 2024L)
    val files = pruned.select(
        org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("y=2024")))
    // a flat append onto the hive layout would break partition
    // discovery on the committed snapshot — refused with the remedy
    val e = intercept[IllegalArgumentException] {
      StarBuilder.appendTableVersioned(
        Seq((4L, 2025L, 40L)).toDF("k", "y", "n"), wh, "t", from = v2)
    }
    assert(e.getMessage.contains("hive-partitioned"))
  }

  test("checked commit: fail-fast refuses before the claim; quarantine routes atomically; NULL passes") {
    import spark.implicits._
    import graft.etl.StarBuilder
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("graft_checked").toString
    val df = Seq((1L, Option(5.0)), (2L, Option(-1.0)), (3L, Option.empty[Double]))
      .toDF("k", "x")
    // fail-fast: the violation aborts BEFORE any claim — the log stays
    // empty, bad data never becomes a resolvable snapshot
    val e = intercept[IllegalStateException] {
      StarBuilder.writeTableVersionedChecked(df, wh, "t",
        Seq("pos_x" -> (col("x") > 0)))
    }
    assert(e.getMessage.contains("pos_x=1"))
    assert(SnapshotLog.committedVersions(wh).isEmpty)
    // quarantine mode: ONE atomic commit carrying both tables; the NULL
    // row PASSES (ANSI CHECK: only literal FALSE violates)
    val v = StarBuilder.writeTableVersionedChecked(df, wh, "t",
      Seq("pos_x" -> (col("x") > 0)), failFast = false)
    assert(SnapshotLog.committedVersions(wh) == Seq(v))
    assert(StarBuilder.readAt(spark, wh, "t", Some(v))
      .collect().map(_.getAs[Long]("k")).toSet == Set(1L, 3L))
    val q = StarBuilder.readAt(spark, wh, "t_quarantine", Some(v)).collect()
    assert(q.map(_.getAs[Long]("k")).toSeq == Seq(2L))
    assert(q.head.getAs[scala.collection.Seq[String]]("_violated").toSeq == Seq("pos_x"))
    // a clean frame under fail-fast commits normally
    val v2 = StarBuilder.writeTableVersionedChecked(
      Seq((9L, Option(1.0))).toDF("k", "x"), wh, "t",
      Seq("pos_x" -> (col("x") > 0)))
    assert(v2 == v + 1)
  }

  test("mergeInto raises on duplicate source keys, matched or not") {
    import spark.implicits._
    import graft.etl.StarBuilder.mergeInto
    val base = Seq((1L, 100.0)).toDF("k", "v")
    // duplicate MATCHED key: the ANSI cardinality violation
    val dupMatched = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v")
    val e1 = intercept[Exception] {
      mergeInto(base, dupMatched, Seq("k")).collect()
    }
    assert(e1.getMessage.contains("duplicate source rows"))
    // duplicate UNMATCHED key: two inserts under one key would break the
    // target's key uniqueness just as silently — also refused
    val dupUnmatched = Seq((9L, 1.0), (9L, 2.0)).toDF("k", "v")
    val e2 = intercept[Exception] {
      mergeInto(base, dupUnmatched, Seq("k")).collect()
    }
    assert(e2.getMessage.contains("duplicate source rows"))
  }

  test("q342: the delta-join cross term — same-batch order+customer must survive") {
    import spark.implicits._
    // order 2 and its customer 2 BOTH arrive in the delta batch: the
    // only path to the (B, 2000) cell is ΔA⋈ΔB — a two-term
    // implementation silently drops it
    val aOld = Seq((1L, 2000L, 100L)).toDF("o_custkey", "yr", "cents")
    val dA = Seq((2L, 2000L, 50L), (1L, 2001L, 30L))
      .toDF("o_custkey", "yr", "cents")
    val bOld = Seq((1L, "A")).toDF("o_custkey", "seg")
    val dB = Seq((2L, "B")).toDF("o_custkey", "seg")
    val merged = graft.etl.StarBuilder.ivmJoinMerge(aOld, dA, bOld, dB)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(merged(("B", 2000L)) == ((1L, 50L))) // lives on the cross term
    assert(merged(("A", 2000L)) == ((1L, 100L)))
    assert(merged(("A", 2001L)) == ((1L, 30L))) // ΔA ⋈ B_old
    // and the maintained view equals the from-scratch recompute
    val full = dA.unionByName(aOld).join(bOld.unionByName(dB), "o_custkey")
      .groupBy("seg", "yr")
      .agg(count(lit(1)).as("n"), sum("cents").as("rc"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(merged == full)
  }
}
