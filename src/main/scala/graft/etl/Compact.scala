package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction — the OPTIMIZE analog for this engine's
  * flat (non-LSM) incremental paths ([[StarBuilder.upsertDim]]
  * rewrites, the streaming `parquetBatchSink`), both of which
  * accumulate one-or-more files per increment; the persisted indexes
  * compact through [[LsmIndex.compact]] instead. At 100 TB the file-count explosion, not the
  * bytes, is the serving killer: scan planning, footer reads and
  * open() round-trips all scale with file count.
  *
  * [[Compact.compact]] bin-packs each partition LEAF directory's files
  * into ⌈Σbytes / targetBytes⌉ outputs, preserving the partition
  * directory structure (a `tahun=…` dir is rewritten in place,
  * never merged across partition values) and — when `sortBy` is given —
  * re-establishing the clustered order inside the packed files (range
  * partition + in-task sort, the [[StarBuilder.writeFactClustered]]
  * shape), so row-group min/max skipping survives the rewrite
  * (PartitionPruningSpec measures it on the executed scan).
  *
  * The swap is write-aside-then-replace per directory: new files land in
  * a dot-prefixed sibling staging dir, then the old data files are
  * removed and the packed ones moved in. On a lakehouse table this
  * rewrite would instead commit as a new snapshot version
  * ([[StarBuilder.writeAllVersioned]]'s log) so readers never observe
  * the intermediate state; on the flat layout it carries the same
  * visibility caveat as any in-place overwrite.
  */
object Compact {

  /** One compacted directory: (path, files before, files after). */
  final case class Result(dir: String, before: Int, after: Int)

  /** Bin-pack every partition leaf directory under `root` whose file
    * count exceeds ⌈Σbytes / targetBytes⌉. `sortBy` re-sorts packed
    * files on the given columns (restores clustering); empty = pure
    * repack. Returns per-directory file counts for observability —
    * directories already at or under target are left byte-untouched. */
  def compact(spark: SparkSession, root: String, targetBytes: Long,
      sortBy: Seq[String] = Nil,
      blockSize: Int = 128 * 1024 * 1024): Seq[Result] = {
    require(targetBytes > 0, "targetBytes must be positive")
    leafDirs(new java.io.File(root)).flatMap { leaf =>
      val files = dataFiles(leaf)
      if (files.length < 2) None
      else {
        val total = files.map(_.length()).sum
        val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
        if (nOut >= files.length) None
        else {
          val df = spark.read.parquet(leaf.toString)
          val packed =
            if (sortBy.nonEmpty)
              df.repartitionByRange(nOut, sortBy.map(col): _*)
                .sortWithinPartitions(sortBy.map(col): _*)
            else df.repartition(nOut)
          val staging = new java.io.File(leaf.getParentFile, s".compact_${leaf.getName}")
          packed.write.mode("overwrite")
            .option("parquet.block.size", blockSize.toString)
            .parquet(staging.toString)
          // replace, PACKED FILES IN FIRST, old files out second: a
          // crash between the phases leaves the rows present twice
          // (transient, and the next pass repacks the union) — the
          // delete-first order would leave them present ZERO times,
          // with the only copy in a dot-dir every reader ignores.
          // Packed part names carry a fresh write UUID, so they cannot
          // collide with the files being replaced. The crash-SAFE form
          // of this rewrite is StarBuilder.compactVersioned's
          // commit-marker snapshot; this in-place form is for flat
          // (unversioned) tables.
          dataFiles(staging).foreach { nf =>
            java.nio.file.Files.move(nf.toPath,
              new java.io.File(leaf, nf.getName).toPath)
            val crc = new java.io.File(staging, s".${nf.getName}.crc")
            if (crc.exists())
              java.nio.file.Files.move(crc.toPath,
                new java.io.File(leaf, s".${nf.getName}.crc").toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          files.foreach { f =>
            f.delete()
            new java.io.File(leaf, s".${f.getName}.crc").delete()
          }
          deleteRecursively(staging)
          Some(Result(leaf.toString, files.length, nOut))
        }
      }
    }
  }

  private[etl] def dataFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Deepest directories holding data files, skipping metadata dirs
    * (`_log`, staging dot-dirs): the units a partitioned table's
    * `partitionBy` layout writes into. */
  private[etl] def leafDirs(f: java.io.File): Seq[java.io.File] = {
    val subs = Option(f.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        !d.getName.startsWith("_") && !d.getName.startsWith("."))
    if (subs.isEmpty) Seq(f) else subs.toSeq.flatMap(leafDirs)
  }

  /** Pack `srcLeaf`'s data files into `dstLeaf` at the same
    * ⌈Σbytes/target⌉ sizing [[compact]] uses — or, when the source is
    * already at/under target, BYTE-copy the files across (no
    * decode/re-encode): the copy-on-write building block of
    * [[StarBuilder.compactVersioned]]. Returns (files before, after). */
  private[etl] def packInto(spark: SparkSession, srcLeaf: java.io.File,
      dstLeaf: java.io.File, targetBytes: Long, blockSize: Int): (Int, Int) = {
    val files = dataFiles(srcLeaf)
    val total = files.map(_.length()).sum
    val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    if (files.isEmpty || nOut >= files.length) {
      dstLeaf.mkdirs()
      files.foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(dstLeaf, f.getName).toPath))
      (files.length, files.length)
    } else {
      // mergeSchema: after a schema evolution by append
      // ([[StarBuilder.appendTableVersioned]]) the leaf holds MIXED
      // footers, and a single-footer read here would let an old narrow
      // footer win schema inference — the repack would silently project
      // the evolved column away and commit the loss. The merged read
      // materializes the union schema (nulls where a file predates a
      // column), the Delta OPTIMIZE semantic.
      spark.read.option("mergeSchema", true)
        .parquet(srcLeaf.toString).repartition(nOut)
        .write.mode("overwrite")
        .option("parquet.block.size", blockSize.toString)
        .parquet(dstLeaf.toString)
      (files.length, nOut)
    }
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
