package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
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
  * CRASH SAFETY is the log's (see [[SnapshotLog]]): the live epoch's
  * files are only READ until the successor's marker exists, and
  * superseded epochs are vacuumed marker-first after it. Maintenance
  * assumes ONE writer per artifact at a time — the log defends against
  * crashed predecessors, not concurrent compactors. */
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
    * schema (reads scan with it and infer nothing) and, for a
    * single-file layout, its rows as a driver-side local relation. The
    * key is (epoch dir, marker commit instant, sorted `gen=` listing): a
    * rebuild or compaction moves the dir (or, after the artifact is
    * deleted and rebuilt, the instant) and an append adds a generation,
    * so each misses the memo. */
  private val epochs = TrieMap.empty[(SparkSession, String),
    ((String, Long, Seq[String]), StructType, Option[DataFrame])]

  /** Every generation of the live epoch, partition columns kept — or
    * only those under the `subdirs` that exist, so a probe lists just
    * its buckets' directories (partition discovery over every bucket
    * would list them all, in a Spark job past 32 directories). */
  private def scanLive(s: SparkSession, layout: Layout,
      subdirs: Option[Seq[String]] = None): DataFrame = {
    val v = SnapshotLog.resolve(layout.path)
    val dir = SnapshotLog.versionDir(layout.path, v).toString
    val key = (dir, SnapshotLog.commitInstant(layout.path, v), genDirs(dir, layout))
    val (_, schema, rows) = epochs.updateWith((s, layout.path))(_.filter(_._1 == key).orElse {
      val df = s.read.parquet(dir)
      Some((key, df.schema, Option.when(layout.singleFile)(graft.Ckpt.local(df))))
    }).get
    val paths = subdirs.fold(Seq(dir))(
      _.map(sub => s"$dir/$sub").filter(new java.io.File(_).isDirectory))
    rows.getOrElse(s.read.schema(schema).option("basePath", dir).parquet(paths: _*))
  }

  /** Publish `rows` as the next epoch's gen 0 through [[SnapshotLog]],
    * then vacuum what it superseded. Single-writer maintenance is also
    * the recovery point: a crashed predecessor's dead claims and stale
    * staging are deleted BEFORE new work — both are invisible to
    * readers, so deletion is always safe. */
  private def publishEpoch(rows: DataFrame, layout: Layout): Unit = {
    SnapshotLog.recoverUncommitted(layout.path)
    SnapshotLog.commitNext(layout.path, first = 0L) { txn =>
      prep(rows, layout, 0L).write.mode("overwrite")
        .partitionBy(layout.partCols: _*).parquet(txn.toString)
    }
    SnapshotLog.vacuum(layout.path, keep = 1)
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
    publishEpoch(rows, layout)

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
    * partition columns dropped — domain folds (occurrence sums, df
    * derivation) stay with the caller, in the same scan that serves. */
  def read(s: SparkSession, layout: Layout): DataFrame =
    scanLive(s, layout).drop(layout.partCols: _*)

  /** All generations WITH the `gen` column (bucket dropped) — the
    * staleness reports' input (what did the appends change?). */
  def readByGen(s: SparkSession, layout: Layout): DataFrame = {
    val all = scanLive(s, layout)
    layout.bucket.fold(all) { case (name, _) => all.drop(name) }
  }

  /** The artifact read scoped to a probe's bucket list — only those
    * buckets' directories are listed, and the static partition filter
    * every serving path pushes into the file scan stays on the plan
    * (file-level-pinned in PartitionPruningSpec for both bucketed
    * families). */
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
    * postings and chunks are already row-disjoint). Published
    * claim-then-commit (see the object doc's crash-window analysis);
    * the live epoch's files are only READ, never touched, until the
    * successor's marker exists. */
  def compact(s: SparkSession, layout: Layout)(
      fold: DataFrame => DataFrame = identity): Unit =
    publishEpoch(fold(read(s, layout)), layout)
}
