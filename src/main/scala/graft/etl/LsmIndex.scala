package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import java.io.File
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** SHARED log-structured (LSM) maintenance for the engine's persisted
  * index artifacts — one definition of the gen-partitioned layout the
  * span index ([[graft.ops.Dedup.writeSpanIndex]]), the lexical
  * postings index ([[graft.ops.Retrieval.writeLexIndex]]), the chunk
  * ledger ([[graft.ops.Dedup.writeChunkIndex]]), the ER name ledger
  * (q191) and the two vector indexes — IVF rows and seed codebook
  * ([[graft.ops.Similarity.writeIvfIndex]]), PQ codes, product
  * codebook and coarse centroids ([[graft.ops.Similarity.writePqIndex]])
  * — all maintain (r12 verdict item 3: three copies of
  * append/merge-on-read/compact meant a bug fixed in one had to be
  * found in three). A rebuild that fails part-way publishes nothing:
  * the previous epoch keeps serving.
  *
  * The layout (r14): the artifact root holds COMPACTION EPOCHS —
  * `path/v=E/[bucket=…/]gen=N/` — published claim-then-commit through
  * the shared [[SnapshotLog]] (readers resolve the highest committed
  * epoch). Within the live epoch, generation 0 is the nightly base
  * build; each incremental batch appends a NEW generation directory
  * (dynamic `partitionBy` — base generation files are never rewritten,
  * spec-pinned byte-identical per family), reads are
  * merge-on-read unions over the generations, and [[compact]] folds
  * everything into a FRESH epoch's gen 0. At 100 TB this is exactly
  * how log-structured stores absorb writes: O(batch) per append, merge
  * cost deferred to reads and bounded by compaction. The optional
  * hash-bucket column in front of `gen` is the serving fan-out: a
  * probe's bucket list is pushed down as a static partition filter
  * ([[prunedRead]]), so a search reads only its keys' directories
  * (the IVF "nprobe directories" story).
  *
  * EPOCH MEMO (the Delta rule: a snapshot's state is built once per log
  * version): every read resolves the live epoch through [[scanLive]], which
  * infers the schema — and, for a single-file layout, loads the rows —
  * once per (session, layout path) and serves later reads from memory
  * until an append, rebuild or compaction changes the key.
  *
  * ERASURE (the Delta deletion-vector rule: the ids that mask the data
  * commit through the same log as the data): [[erase]] adds an
  * `_erase.<n>` record of (id column, ids) to the live epoch; every read
  * drops those rows with a driver-side literal filter, and [[compact]]
  * drops them physically because it reads through [[read]].
  *
  * CRASH SAFETY is the log's (see [[SnapshotLog]]): the live epoch's
  * files are only READ until the successor's marker exists, and
  * superseded epochs are vacuumed marker-first after it. Maintenance
  * assumes ONE writer per artifact at a time — the log defends against
  * crashed predecessors, not concurrent compactors. [[erase]] is the one
  * writer allowed while a rebuild or compaction runs: the publish
  * carries every erase record that landed in the superseded epoch after
  * it started into the new epoch, and an erase that finds the live
  * epoch moved under its record repeats itself there — so an erase that
  * returned is never lost. Erases from before a rebuild started are the
  * rebuild's caller's to leave out of its rows. */
object LsmIndex {

  /** One artifact's layout: its directory, the optional hash-bucket
    * partition in front of `gen` (name + derivation expression over
    * the row frame's columns), and whether each generation should land
    * as a single file (kilobyte sidecars like the BM25 stats row). */
  final case class Layout(
      path: String,
      bucket: Option[(String, Column)] = None,
      singleFile: Boolean = false) {
    private[LsmIndex] def partCols: Seq[String] = bucket.map(_._1).toSeq :+ "gen"
  }

  /** The live (highest-committed) epoch directory every read resolves. */
  private[etl] def liveDir(layout: Layout): String =
    SnapshotLog.versionDir(layout.path, SnapshotLog.resolve(layout.path)).toString

  /** One resolved live epoch per (session, layout path): its key, its
    * schema (reads scan with it and infer nothing), for a single-file
    * layout its rows as a driver-side local relation, and its erase
    * records with the filter that keeps the rows they do not name. The
    * key is (epoch dir, marker commit instant, sorted `gen=` listing): a
    * rebuild or compaction moves the dir (or, after the artifact is
    * deleted and rebuilt, the instant) and an append adds a generation,
    * so each misses the memo. An erase only adds a record: the schema
    * and rows are kept and just the filter is reloaded. */
  private final case class Live(key: (String, Long, Seq[String]), schema: StructType,
      rows: Option[DataFrame], erases: Seq[String] = Nil, keep: Option[Column] = None)

  private val epochs = TrieMap.empty[(SparkSession, String), Live]

  /** Every generation of the live epoch, partition columns kept and
    * erased rows dropped — or only those under the `subdirs` that exist,
    * so a probe lists just its buckets' directories (partition discovery
    * over every bucket would list them all, in a Spark job past 32
    * directories). */
  private def scanLive(s: SparkSession, layout: Layout,
      subdirs: Option[Seq[String]] = None): DataFrame = {
    val v = SnapshotLog.resolve(layout.path)
    val dir = SnapshotLog.versionDir(layout.path, v)
    val key = (dir.toString, SnapshotLog.commitInstant(layout.path, v),
      genDirs(dir.toString, layout))
    val records = eraseRecords(dir)
    val live = epochs.updateWith((s, layout.path)) { memo =>
      val data = memo.filter(_.key == key).getOrElse {
        val df = s.read.parquet(key._1)
        Live(key, df.schema, Option.when(layout.singleFile)(graft.Ckpt.local(df)))
      }
      Some(if (data.erases == records) data
        else data.copy(erases = records, keep = keepFilter(erased(dir, records))))
    }.get
    val paths = subdirs.fold(Seq(key._1))(
      _.map(sub => s"${key._1}/$sub").filter(new File(_).isDirectory))
    val all = live.rows.getOrElse(
      s.read.schema(live.schema).option("basePath", key._1).parquet(paths: _*))
    live.keep.fold(all)(all.where)
  }

  /** The `_erase.<n>` record names of an epoch directory, sorted
    * (underscore-prefixed: partition discovery never sees them). */
  private def eraseRecords(dir: File): Seq[String] =
    Option(dir.list()).toSeq.flatten.filter(_.matches("^_erase\\.[0-9]+$")).sorted

  /** id column → erased ids over `records` of `dir`. A record is its id
    * column's name, then one id per line. A record vacuumed since the
    * listing reads as empty: its epoch is no longer live. */
  private def erased(dir: File, records: Seq[String]): Map[String, Set[Long]] =
    records.flatMap { r =>
      val lines = try java.nio.file.Files.readAllLines(new File(dir, r).toPath).asScala.toSeq
        catch { case _: java.nio.file.NoSuchFileException => Nil }
      lines.drop(1).map(lines.head -> _.toLong)
    }.groupMap(_._1)(_._2).map { case (c, ids) => c -> ids.toSet }

  /** The filter that keeps every row no erase names (a NULL id is never
    * erased). */
  private def keepFilter(erased: Map[String, Set[Long]]): Option[Column] =
    erased.map { case (c, ids) => col(c).isNull || !col(c).isin(ids.toSeq.sorted: _*) }
      .reduceOption(_ && _)

  /** Publish `rows` as the next epoch's gen 0 through [[SnapshotLog]],
    * carry forward the erases that landed in the superseded epoch while
    * `rows` were written, then vacuum what it superseded. `rows` is
    * evaluated after the superseded epoch's erase records are listed, so
    * a [[compact]] that reads through [[read]] has applied every record
    * the carry-forward skips. Single-writer maintenance is also the
    * recovery point: a crashed predecessor's dead claims and stale
    * staging are deleted BEFORE new work — both are invisible to
    * readers, so deletion is always safe. */
  private def publishEpoch(layout: Layout)(rows: => DataFrame): Unit = {
    SnapshotLog.recoverUncommitted(layout.path)
    val prev = SnapshotLog.latestVersion(layout.path).map(SnapshotLog.versionDir(layout.path, _))
    val seen = prev.fold(Seq.empty[String])(eraseRecords)
    SnapshotLog.commitNext(layout.path, first = 0L) { txn =>
      prep(rows, layout, 0L).write.mode("overwrite")
        .partitionBy(layout.partCols: _*).parquet(txn.toString)
    }
    prev.foreach { old =>
      erased(old, eraseRecords(old).diff(seen)).foreach { case (c, ids) =>
        erase(layout, c, ids.toSeq)
      }
    }
    SnapshotLog.vacuum(layout.path, keep = 1)
  }

  /** Erase the rows whose `idCol` is one of `ids` from the live epoch:
    * one `_erase.<n>` record, created content-atomically through the
    * log's storage protocol — data files are never touched. Ids the
    * live epoch already erases are left out, so a repeated erase (or an
    * empty one) writes nothing. If the live epoch moved while the record
    * was written, the erase repeats in the new one (see the object doc).
    * The epoch's readers drop the rows from their next scan; the next
    * [[compact]] drops them physically. */
  def erase(layout: Layout, idCol: String, ids: Seq[Long]): Unit = {
    val v = SnapshotLog.resolve(layout.path)
    val dir = SnapshotLog.versionDir(layout.path, v)
    val done = erased(dir, eraseRecords(dir)).getOrElse(idCol, Set.empty[Long])
    val fresh = ids.distinct.filterNot(done).sorted
    if (fresh.nonEmpty) {
      SnapshotLog.putNext(dir, "_erase",
        (idCol +: fresh.map(_.toString)).mkString("", "\n", "\n").getBytes("UTF-8"))
      if (SnapshotLog.resolve(layout.path) != v) erase(layout, idCol, fresh)
    }
  }

  private def prep(rows: DataFrame, layout: Layout, gen: Long): DataFrame = {
    val bucketed = layout.bucket.fold(rows) { case (name, expr) =>
      rows.withColumn(name, expr)
    }
    val stamped = bucketed.withColumn("gen", lit(gen))
    if (layout.singleFile) stamped.coalesce(1) else stamped
  }

  /** Write generation 0 — the base build, published as a fresh epoch
    * (a re-build claims the NEXT epoch; its commit supersedes). */
  def write(rows: DataFrame, layout: Layout): Unit =
    publishEpoch(layout)(rows)

  /** Incremental maintenance: the batch lands as a NEW generation
    * directory inside the LIVE epoch — one above the highest `gen=`
    * already there; base generation files are never touched. Batches
    * must be disjoint in the domain's row-identity (doc- or
    * vector-disjoint for every current family — the incremental-family
    * convention). An artifact with no committed epoch has no base to
    * grow: the append throws. */
  def append(rows: DataFrame, layout: Layout): Unit = {
    val live = liveDir(layout)
    val gens = genDirs(live, layout).map(_.split("gen=").last.toLong)
    prep(rows, layout, (0L +: gens).max + 1).write.mode("append")
      .partitionBy(layout.partCols: _*).parquet(live)
  }

  /** The `gen=N` directories under an epoch (behind the bucket level
    * when there is one), as sorted relative paths. */
  private def genDirs(live: String, layout: Layout): Seq[String] = {
    val root = java.nio.file.Paths.get(live)
    val walk = java.nio.file.Files.walk(root, if (layout.bucket.isDefined) 2 else 1)
    try walk.iterator().asScala.filter(_.getFileName.toString.startsWith("gen="))
      .map(root.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  /** Merge-on-read union over every generation of the live epoch,
    * erased rows and partition columns dropped — domain folds
    * (occurrence sums, df derivation) stay with the caller, in the same
    * scan that serves. */
  def read(s: SparkSession, layout: Layout): DataFrame =
    scanLive(s, layout).drop(layout.partCols: _*)

  /** All generations WITH the `gen` column (bucket and erased rows
    * dropped) — the staleness reports' input (what did the appends
    * change?). */
  def readByGen(s: SparkSession, layout: Layout): DataFrame = {
    val all = scanLive(s, layout)
    layout.bucket.fold(all) { case (name, _) => all.drop(name) }
  }

  /** The artifact read scoped to a probe's bucket list, erased rows
    * dropped — only those buckets' directories are listed, and the
    * static partition filter every serving path pushes into the file
    * scan stays on the plan (file-level-pinned in PartitionPruningSpec
    * for both bucketed families). */
  def prunedRead(s: SparkSession, layout: Layout, buckets: Seq[Long]): DataFrame = {
    val (name, _) = layout.bucket.getOrElse(
      throw new IllegalArgumentException(s"${layout.path} has no bucket fan-out"))
    scanLive(s, layout, Some(buckets.distinct.map(b => s"$name=$b")))
      .where(col(name).isin(buckets: _*)).drop(layout.partCols: _*)
  }

  /** Driver-side distinct bucket list of a distributed probe frame —
    * bounded by the probe batch, never the corpus (the Delta-style
    * driver-pruning pattern; one distinct + collect job — the BM25 and
    * IVF searches compute theirs from local relations and skip it). */
  def probeBuckets(probe: DataFrame, bucketExpr: Column): Seq[Long] =
    probe.select(bucketExpr.as("b")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** Major compaction: fold every generation into a FRESH epoch's
    * gen 0 — bounds the generation-directory count a merge-on-read
    * serve unions. `fold` collapses cross-generation rows where the
    * domain state is mergeable (the span index sums its counts;
    * postings and chunks are already row-disjoint). Erased rows are
    * dropped physically and the new epoch starts with no erase record
    * but those that land while it is written. Published
    * claim-then-commit (see the object doc's crash-window analysis);
    * the live epoch's files are only READ, never touched, until the
    * successor's marker exists. */
  def compact(s: SparkSession, layout: Layout)(
      fold: DataFrame => DataFrame = identity): Unit =
    publishEpoch(layout)(fold(read(s, layout)))
}
