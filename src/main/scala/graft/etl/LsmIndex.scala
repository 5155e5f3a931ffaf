package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
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
    prep(rows, layout, nextGen(live, layout)).write.mode("append")
      .partitionBy(layout.partCols: _*).parquet(live)
  }

  /** Highest `gen=N` directory under the live epoch (behind the bucket
    * level when there is one), plus 1 — at least 1, since 0 is the base. */
  private def nextGen(live: String, layout: Layout): Long = {
    val depth = if (layout.bucket.isDefined) 2 else 1
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(live), depth)
    try {
      val gens = walk.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("gen=") => n.stripPrefix("gen=").toLong }
      (0L +: gens.toSeq).max + 1
    } finally walk.close()
  }

  /** Merge-on-read union over every generation of the live epoch,
    * partition columns dropped — domain folds (occurrence sums, df
    * derivation) stay with the caller, in the same scan that serves. */
  def read(s: SparkSession, layout: Layout): DataFrame =
    s.read.parquet(liveDir(layout)).drop(layout.partCols: _*)

  /** All generations WITH the `gen` column (bucket dropped) — the
    * staleness reports' input (what did the appends change?). */
  def readByGen(s: SparkSession, layout: Layout): DataFrame =
    layout.bucket.fold(s.read.parquet(liveDir(layout))) { case (name, _) =>
      s.read.parquet(liveDir(layout)).drop(name)
    }

  /** The artifact read scoped to a probe's bucket list — the static
    * partition filter every serving path pushes into the file scan
    * (file-level-pinned in PartitionPruningSpec for both bucketed
    * families). */
  def prunedRead(s: SparkSession, layout: Layout, buckets: Seq[Long]): DataFrame = {
    val (name, _) = layout.bucket.getOrElse(
      throw new IllegalArgumentException(s"${layout.path} has no bucket fan-out"))
    s.read.parquet(liveDir(layout))
      .where(col(name).isin(buckets: _*)).drop(layout.partCols: _*)
  }

  /** Driver-side distinct bucket list of a probe frame — bounded by
    * the probe batch, never the corpus (the Delta-style driver-pruning
    * pattern every serving path uses). */
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
