package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** File-level data skipping via commit-time sidecar manifests — the
  * planning half of the lakehouse-table story ([[StarBuilder]]'s
  * versioned warehouse provides the commit half). Two complementary
  * indexes, each a tiny parquet table living under the data directory
  * in a `_`-prefixed sidecar (invisible to plain parquet scans, skipped
  * by [[leaves]]):
  *
  *  - `_idx/stats`: per-file min/max/count for designated columns — the
  *    Delta/Iceberg "stats in the log" shape. An interval predicate
  *    prunes FILES at planning time from the manifest alone, without
  *    opening a single parquet footer. At 100 TB this is the difference
  *    between a driver-side filter over #files manifest rows and 10⁵
  *    footer round-trips before the first task launches; parquet's own
  *    row-group min/max skipping then applies WITHIN the surviving
  *    files (the two tiers [[StarBuilder.writeFactClustered]] measures).
  *    Effective when the layout is clustered on the stats column
  *    (sorted files ⇒ disjoint intervals); useless for a
  *    hash-distributed key — which is what `_idx/bloom` is for.
  *
  *  - `_idx/bloom`: per-file Bloom filter over a high-cardinality key
  *    (fingerprints, ids), encoded as the sorted array of set bit
  *    positions — the Delta BLOOMFILTER index shape. A point lookup
  *    reads only files whose filter holds every probe bit; false
  *    positives cost an extra file read, false negatives are
  *    impossible by construction (PartitionPruningSpec pins both).
  *
  * File paths are stored RELATIVE to the table directory (the
  * deletion-vector precedent): a manifest written in a staging dir
  * stays valid after [[StarBuilder]]'s atomic rename into `v=<n>/`,
  * and a byte-copied snapshot keeps its manifest. This object is the
  * one owner of the `_idx/` layout; the warehouse writers only say
  * what happened to a table's files. Each sidecar records what it
  * indexes (`_idx/stats` its columns in its min_* schema — the table's
  * [[clusterKey]] — and `_idx/bloom` its key in `key_col`), so no
  * caller passes them again: an append grows every sidecar over the
  * new files ([[growSidecars]]), and a REWRITE, which renames every
  * file, regenerates every sidecar ([[rebuildSidecars]]);
  * [[StarBuilder.compactVersioned]] carries them as-is with a table it
  * does not rewrite. A row a warehouse deletion vector masks stays in
  * its file and that file's stats, so every interval stays a superset:
  * the warehouse reader prunes as usual and masks the deleted rows of
  * just the files it opens. The ANN serving indexes keep the
  * rebuild-with-the-artifact rule.
  */
object DataSkipping {
  type Q = (SparkSession, String) => DataFrame

  /** The `_metadata.file_path` of every row, relativized to the table
    * root: the tail after the LAST `/<basename>/` — THE file identity of
    * every per-file sidecar (stats, bloom, deletion vectors). The last
    * occurrence is the table root itself, because nothing under a table
    * root shares its name (subdirectories are `k=v`); a directory above
    * the warehouse may (`<tmp>/t/wh/v=1/t/…`). */
  private[etl] def relFile(tableDir: String): Column = {
    val base = new java.io.File(tableDir).getName
    regexp_extract(col("_metadata.file_path"),
      "^.*/" + java.util.regex.Pattern.quote(base) + "/(.*)$", 1)
  }

  /** The partition leaves of a table directory — the deepest
    * directories, skipping `_`-prefixed sidecars and dot-staging dirs —
    * each with its parquet data files: the one data-file walk
    * [[listDataFiles]] and [[StarBuilder.compactVersioned]] share. */
  private[etl] def leaves(dir: java.io.File): Seq[(java.io.File, Seq[java.io.File])] = {
    val (subs, files) = Option(dir.listFiles()).toSeq.flatten.partition(_.isDirectory)
    val parts = subs.filterNot(d => d.getName.startsWith("_") || d.getName.startsWith("."))
    if (parts.isEmpty) Seq(dir -> files.filter(_.getName.endsWith(".parquet")))
    else parts.flatMap(leaves)
  }

  // ---------------------------------------------------------------------------
  // _stats: per-file min/max manifest
  // ---------------------------------------------------------------------------

  /** A sidecar of `tableDir` — `kind` is `stats` or `bloom`: the one
    * place the `_idx/` layout is spelled. */
  private def sidecar(tableDir: String, kind: String): String = s"$tableDir/_idx/$kind"

  private def carries(tableDir: String, kind: String): Boolean =
    new java.io.File(sidecar(tableDir, kind)).isDirectory

  /** Write the `_idx/stats` manifest for `tableDir`: one row per data file
    * with (file, n_rows, min_<c>, max_<c> per stats column). ONE
    * aggregation job over the table, grouped on the file identity the
    * scan already carries (`_metadata.file_path` is a metadata column —
    * no data is shuffled wider than the stats values themselves). At a
    * lakehouse deployment this collection rides the write itself
    * (parquet footers already hold the values); the explicit pass keeps
    * the manifest buildable for any existing table. */
  def writeStats(spark: SparkSession, tableDir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "writeStats needs at least one stats column")
    statsRowsFor(spark.read.parquet(tableDir), tableDir, cols)
      .write.mode("overwrite").parquet(sidecar(tableDir, "stats"))
  }

  /** One manifest row per data file of `df` — THE manifest shape,
    * shared by [[writeStats]] (whole-table frame) and [[growSidecars]]
    * (fresh-files frame) so the full rebuild and the growth can never
    * diverge on schema. */
  private def statsRowsFor(df: DataFrame, tableDir: String, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(relFile(tableDir).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
  }

  /** Scan exactly `files` (absolute paths) of `tableDir`, or all of it
    * for None — the one table read the warehouse reader, the pruned
    * scans and the sidecar growth share. `basePath = tableDir` keeps
    * PARTITION columns: without it each file is its own root and a
    * column that lives in the directory structure would vanish from the
    * read. No files → an empty frame with the table's schema (a
    * footer-only read). `mergeSchema` reads the union of the footers. */
  private[etl] def scanFiles(spark: SparkSession, tableDir: String,
      files: Option[Seq[String]], mergeSchema: Boolean = false): DataFrame = {
    val read = spark.read.option("mergeSchema", mergeSchema)
    files match {
      case None => read.parquet(tableDir)
      case Some(Seq()) => read.parquet(tableDir).where(lit(false))
      case Some(fs) => read.option("basePath", tableDir).parquet(fs: _*)
    }
  }

  /** The data files of `tableDir` (recursive — partitioned layouts
    * included; the [[leaves]] walk), RELATIVE to the table root — the
    * same file identity [[relFile]] gives manifest rows, so
    * set-difference against the manifest is exact. */
  private def listDataFiles(tableDir: String): Seq[String] = {
    val root = new java.io.File(tableDir)
    leaves(root).flatMap(_._2).map(f => root.toPath.relativize(f.toPath).toString)
  }

  /** The table's clustering key: the columns its stats manifest indexes,
    * recovered from the manifest's own min_* schema (Nil without a
    * manifest). A manifest is only useful over files clustered on its
    * columns (disjoint intervals), so every writer that adds or rewrites
    * files of the table sorts them on this key. The schema comes from
    * one part's footer, read in this JVM: every part of a manifest has
    * the same columns, and a schema-inference read would cost every
    * append a Spark job. */
  def clusterKey(spark: SparkSession, tableDir: String): Seq[String] =
    Option(new java.io.File(sidecar(tableDir, "stats")).listFiles()).toSeq.flatten
      .find(_.getName.endsWith(".parquet")).toSeq.flatMap { part =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(part.toURI), spark.sparkContext.hadoopConfiguration))
        try footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
        finally footer.close()
      }.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))

  /** Incremental maintenance of every sidecar `tableDir` carries: each
    * grows by rows for exactly the data files it does not cover yet,
    * and its existing part files are never rewritten (per-file rows are naturally incremental — the specs pin
    * byte-identity of the old parts and pruning ≡ full rebuild). The
    * stats columns and the bloom key are the ones the sidecars record,
    * so a growth can never index other columns than the base did. At
    * 100 TB this is the difference between a nightly manifest refresh
    * scanning the day's ingest and scanning the table: the pass costs
    * O(new files). No-op when every file is covered. */
  def growSidecars(spark: SparkSession, tableDir: String): Unit = {
    val files = listDataFiles(tableDir)
    grow(spark, tableDir, clusterKey(spark, tableDir), kind => {
      val covered = spark.read.parquet(sidecar(tableDir, kind))
        .select("file").collect().map(_.getString(0)).toSet
      files.filterNot(covered)
    })
  }

  /** Add data files to `tableDir` with `write(key)`, given the table's
    * [[clusterKey]], and grow every sidecar over exactly the files it
    * added. The files already there came from a committed version whose
    * sidecars cover them, so no manifest is read back: this is the
    * warehouse append's form of [[growSidecars]]. */
  private[etl] def appendFiles(spark: SparkSession, tableDir: String)(
      write: Seq[String] => Unit): Unit = {
    val key = clusterKey(spark, tableDir)
    val before = listDataFiles(tableDir).toSet
    write(key)
    val added = listDataFiles(tableDir).filterNot(before)
    grow(spark, tableDir, key, _ => added)
  }

  /** Append to each sidecar the rows of its `fresh(kind)` data files. */
  private def grow(spark: SparkSession, tableDir: String, statsCols: Seq[String],
      fresh: String => Seq[String]): Unit =
    Seq("stats", "bloom").filter(carries(tableDir, _)).foreach { kind =>
      val files = fresh(kind)
      if (files.nonEmpty) {
        val df = scanFiles(spark, tableDir, Some(files.map(f => s"$tableDir/$f")))
        val rows =
          if (kind == "stats") statsRowsFor(df, tableDir, statsCols)
          else bloomRowsFor(df, tableDir, bloomKeyCol(spark, tableDir))
        rows.write.mode("append").parquet(sidecar(tableDir, kind))
      }
    }

  /** Regenerate over the files of `out` every sidecar `tableDir`
    * carries, with the stats columns and bloom key it records — the
    * rewrite rule: both sidecars address files BY NAME, so a table
    * whose files are rewritten needs new ones before its commit. */
  private[etl] def rebuildSidecars(spark: SparkSession, tableDir: String, out: String): Unit = {
    if (carries(tableDir, "stats")) writeStats(spark, out, clusterKey(spark, tableDir))
    if (carries(tableDir, "bloom")) writeBloom(spark, out, bloomKeyCol(spark, tableDir))
  }

  /** The manifest as a DataFrame; loud failure when absent (a scan that
    * silently fell back to reading everything would hide a lost
    * manifest forever). */
  def statsManifest(spark: SparkSession, tableDir: String): DataFrame = {
    require(carries(tableDir, "stats"),
      s"no stats manifest under $tableDir — writeStats was never run " +
        "(or a rewrite outside compactVersioned, which regenerates it, dropped it)")
    spark.read.parquet(sidecar(tableDir, "stats"))
  }

  /** The data files whose [min, max] interval on `c` intersects
    * [lo, hi] — the planning-time file prune. Files whose stats are
    * NULL hold only NULL values of `c` (min/max ignore nulls), which no
    * interval predicate matches, so they prune too. Returns ABSOLUTE
    * paths ready for a parquet scan. The manifest is #files-sized: this
    * collect is query planning, not data movement (the Delta log read). */
  def prunedFiles(spark: SparkSession, tableDir: String, c: String,
      lo: Any, hi: Any): Seq[String] =
    statsManifest(spark, tableDir)
      .where(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(r => s"$tableDir/${r.getString(0)}").toSeq

  /** Scan only the files an interval predicate on `c` can touch. The
    * caller still applies the exact predicate — file pruning is a
    * superset guarantee, same contract as partition pruning. */
  def prunedScan(spark: SparkSession, tableDir: String, c: String,
      lo: Any, hi: Any): DataFrame =
    scanFiles(spark, tableDir, Some(prunedFiles(spark, tableDir, c, lo, hi)))

  // ---------------------------------------------------------------------------
  // _bloom: per-file Bloom filter for point lookups
  // ---------------------------------------------------------------------------

  /** m (bits) and k (hash functions): at 4096 bits a 1000-key file
    * carries ~1.2 bits/key load → per-probe false-positive rate
    * (1 − e^(−kn/m))^k ≈ 4% — an occasional extra file read, never a
    * wrong result. Sized for this harness's file row counts; a real
    * deployment scales m with maxRecordsPerFile. */
  private[etl] val bloomBits = 4096
  private[etl] val bloomHashes = 5

  /** The k bit positions of one key value: xxhash64 seeded by the probe
    * index (mixed in as a literal hash input — the double-hashing
    * family the MinHash signatures use). Deterministic across runs and
    * partitionings; the probe side evaluates THE SAME expression, so
    * build and lookup can never disagree. */
  private def bloomPositions(key: Column): Column =
    transform(sequence(lit(0), lit(bloomHashes - 1)),
      i => pmod(xxhash64(i, key), lit(bloomBits.toLong)))

  /** Write the `_idx/bloom` sidecar for `tableDir`: one row per data file
    * with the SORTED DISTINCT set-bit positions of every key in the
    * file (the sparse encoding of an m-bit filter — exact same
    * membership semantics, parquet-friendly). One aggregation job:
    * explode to (file, pos), distinct, collect per file. */
  def writeBloom(spark: SparkSession, tableDir: String, keyCol: String): Unit =
    bloomRowsFor(spark.read.parquet(tableDir), tableDir, keyCol)
      .write.mode("overwrite").parquet(sidecar(tableDir, "bloom"))

  /** One sidecar row per data file of `df` — THE bloom-manifest shape,
    * shared by [[writeBloom]] and [[growSidecars]] (the [[statsRowsFor]]
    * rule). The key must be STRING: [[bloomCandidateFiles]] probes are
    * strings, and xxhash64 is type-sensitive — a numeric key (e.g. an
    * int-inferred partition value) would hash differently on the build
    * side than every probe, making every lookup a silent false
    * negative. Refused loudly instead (the key_col-pin rule); cast or
    * format the key into a string column first. */
  private def bloomRowsFor(df: DataFrame, tableDir: String, keyCol: String): DataFrame = {
    require(df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType,
      s"bloom key $keyCol under $tableDir is ${df.schema(keyCol).dataType.simpleString}, " +
        "not string — probes hash strings, so a non-string key would " +
        "false-negative on every lookup; cast/format the key to string first")
    df.select(relFile(tableDir).as("file"),
        explode(bloomPositions(col(keyCol))).as("pos"))
      .distinct()
      .groupBy("file")
      .agg(sort_array(collect_list(col("pos"))).as("bits"))
      .withColumn("key_col", lit(keyCol))
      .coalesce(1)
  }

  /** The key column a bloom sidecar pins (`key_col` rides every row) —
    * how a rewrite or a growth of the table keeps indexing the key the
    * base did. */
  private def bloomKeyCol(spark: SparkSession, tableDir: String): String = {
    val keys = spark.read.parquet(sidecar(tableDir, "bloom"))
      .select("key_col").distinct().collect().map(_.getString(0)).toSeq
    require(keys.size == 1,
      s"bloom sidecar under $tableDir indexes ${keys.mkString(", ")} — one key per sidecar")
    keys.head
  }

  /** The files a point-lookup on `keys` must read: a file is a
    * candidate iff ALL k bit positions of SOME probe key are set in its
    * filter — the standard Bloom test, evaluated as a join between the
    * probe positions (k × #keys rows, broadcast) and the exploded
    * manifest, counting matched positions per (file, key). Absolute
    * paths; #files-sized planning collect, like [[prunedFiles]]. */
  def bloomCandidateFiles(spark: SparkSession, tableDir: String,
      keys: Seq[String]): Seq[String] = {
    require(carries(tableDir, "bloom"),
      s"no bloom sidecar under $tableDir — writeBloom was never run " +
        "(a rewrite invalidates it; rebuild with the table, the serving-index rule)")
    import spark.implicits._
    val probes = keys.toDF("k")
      .select(col("k"), explode(bloomPositions(col("k"))).as("pos"))
    spark.read.parquet(sidecar(tableDir, "bloom"))
      .select(col("file"), explode(col("bits")).as("pos"))
      .join(broadcast(probes), "pos")
      .groupBy("file", "k")
      // positions are distinct per side, so #matches = #distinct probe
      // positions present; a key whose k hashes collide to fewer
      // distinct positions still matches iff all of THOSE are present
      .agg(count_distinct(col("pos")).as("n_hit"))
      .join(broadcast(probes.groupBy("k")
        .agg(count_distinct(col("pos")).as("n_need"))), "k")
      .where(col("n_hit") === col("n_need"))
      .select("file").distinct()
      .collect().map(r => s"$tableDir/${r.getString(0)}").toSeq
  }

  /** Scan only the Bloom-candidate files for `keys`; the caller applies
    * the exact membership filter (false positives are pruned there). */
  def bloomScan(spark: SparkSession, tableDir: String, keyCol: String,
      keys: Seq[String]): DataFrame =
    scanFiles(spark, tableDir, Some(bloomCandidateFiles(spark, tableDir, keys)))

  // ---------------------------------------------------------------------------
  // q135: Bloom point-lookup inside the correctness gate
  // ---------------------------------------------------------------------------

  /** q135: Bloom-indexed point lookup on the document fingerprint table
    * — the skipping story for a key min/max can't help with: the table
    * is written hash-distributed on `fingerprint` (every file's [min,
    * max] spans the whole key space, so a `_idx/stats` prune would keep
    * every file — the spec measures exactly that), and the `_idx/bloom`
    * sidecar restores file-level skipping for point lookups. The gate
    * probes the fingerprints of doc_id 0/1/2 THROUGH the sidecar and
    * must return exactly the rows a full scan returns (duplicate texts
    * share a fingerprint, so hits can include other doc_ids — both
    * engines compute the same set). The scratch table + sidecar are
    * session-invariant and built once (r10); reps pay the lookup. */
  val q135_bloom_lookup: Q = (s, d) => {
    val out = StarBuilder.scratchDir(s, d, "bloomidx")
    val fp = graft.ops.TextCore.docShingles(s, d)
      .select(col("doc_id"), md5(col("norm")).as("fingerprint"))
    graft.SessionMemo.once(s, d, "bloom:idx") {
      fp.repartition(8, col("fingerprint"))
        .write.mode("overwrite").parquet(out)
      writeBloom(s, out, "fingerprint")
    }
    val probes = fp.where(col("doc_id") < 3)
      .select("fingerprint").collect().map(_.getString(0)).toSeq
    bloomScan(s, out, "fingerprint", probes)
      .where(col("fingerprint").isin(probes: _*))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** q141: the INCREMENTAL bloom path inside the correctness gate —
    * q139's twin for the point-lookup sidecar: the fingerprint table is
    * committed as a base half (doc_id hash bucket < 50, the
    * incremental-family convention) with its `_idx/bloom` sidecar, the
    * other half lands as APPENDED data files, and [[growSidecars]] grows
    * the sidecar for exactly those files (old parts byte-identical —
    * DataSkipping's spec pins it). The gate probes fingerprints of
    * doc_id 0–5 — a set that SPANS the halves (0/1/5 appended, 2/3/4
    * base at any scale: the bucket is a pure doc_id hash) — through the
    * grown sidecar, so a lookup that lost the appended files' filters
    * (or kept serving the base-only sidecar) misses rows and fails
    * against the full-scan oracle. Build is session-invariant; reps pay
    * the lookup. */
  val q141_bloom_append: Q = (s, d) => {
    val out = StarBuilder.scratchDir(s, d, "bloomidxInc")
    val fp = graft.ops.TextCore.docShingles(s, d)
      .select(col("doc_id"), md5(col("norm")).as("fingerprint"))
    val bucket = graft.ops.TextCore.idBucket(col("doc_id"))
    graft.SessionMemo.once(s, d, "bloom:idxInc") {
      fp.where(bucket < 50).repartition(4, col("fingerprint"))
        .write.mode("overwrite").parquet(out)
      writeBloom(s, out, "fingerprint")
      fp.where(bucket >= 50).repartition(4, col("fingerprint"))
        .write.mode("append").parquet(out)
      growSidecars(s, out)
    }
    val probes = fp.where(col("doc_id") < 6)
      .select("fingerprint").collect().map(_.getString(0)).toSeq
    bloomScan(s, out, "fingerprint", probes)
      .where(col("fingerprint").isin(probes: _*))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------------
  // q194: Z-order clustering vs single-dim sort — the layout decision itself
  // ---------------------------------------------------------------------------

  /** Morton/Z-value bit interleave of two 8-bit codes as one arithmetic
    * SQL expression: bit i of `x` lands at position 2i+1, bit i of `y`
    * at 2i. Generated (not hand-written) so the Spark side and the
    * DuckDB oracle share one definition and cannot drift; `divOp`
    * parameterizes the only dialect difference (`div` vs `//` — equal
    * for the non-negative operands the codes are by construction). */
  private[graft] def zInterleaveSql(x: String, y: String, divOp: String): String =
    (0 to 7).map { i =>
      val p = 1L << i
      s"(($x $divOp $p) % 2) * ${1L << (2 * i + 1)} + (($y $divOp $p) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** q194: the Z-ORDER LAYOUT DECISION, modeled end-to-end — Delta's
    * `OPTIMIZE ZORDER BY (a, b)` exists because a table range-clustered
    * on ONE key cannot file-skip on a second: every width-4 `user`
    * stripe spans the whole time axis, so a (user-band × time-band) box
    * query must open all 16 intersecting stripes and scan ~N/4 rows.
    * Interleaving the two 8-bit codes into a 16-bit Morton value and
    * cutting files as fixed width-1024 z-ranges makes every file an
    * EXACT 32×32 (user × time) tile — the quadrant-aligned 64×64 box
    * then touches exactly 4 tiles and `rows_scanned == true_rows`
    * (ZOrderSpec pins both inequalities; the gate pins the numbers).
    * Everything is layout MODELING on integer codes — no writes, no
    * window, no sort: code extents ride a broadcast 1-row aggregate,
    * the z-value is [[zInterleaveSql]], file ids are integer divisions,
    * and per-file min/max/count stats are one hash aggregation per
    * layout — so the comparison itself runs at corpus scale (the
    * file-cut rule `z div 1024` IS `repartitionByRange` on z at write
    * time, and the stats are what [[writeStats]] would record). */
  val q194_zorder_layout: Q = (s, d) => {
    val e = graft.ops.Events.events(s, d).select(col("user_id").as("u"), col("es"))
    val bounds = e.agg(min("u").as("minu"), max("u").as("maxu"),
      min("es").as("mine"), max("es").as("maxe"))
    val z = e.crossJoin(broadcast(bounds))
      .select(expr("CAST(((u - minu) * 256) div (maxu - minu + 1) AS BIGINT)").as("x"),
        expr("CAST(((es - mine) * 256) div (maxe - mine + 1) AS BIGINT)").as("y"))
      .withColumn("z", expr(zInterleaveSql("x", "y", "div")))
    val layouts = z.select(lit("user_sorted").as("layout"),
        expr("x div 4").as("fid"), col("x"), col("y"))
      .unionAll(z.select(lit("zorder").as("layout"),
        expr("z div 1024").as("fid"), col("x"), col("y")))
    val stats = layouts.groupBy("layout", "fid")
      .agg(min("x").as("lx"), max("x").as("hx"),
        min("y").as("ly"), max("y").as("hy"), count(lit(1)).as("n"))
    // the box query: middle quadrant-aligned 64×64 band on BOTH dims;
    // a file is opened iff its stats box intersects (min/max pruning —
    // the superset guarantee readAtPruned serves for real manifests)
    val hit = col("hx") >= 64 && col("lx") <= 127 &&
      col("hy") >= 64 && col("ly") <= 127
    val truth = z.where(col("x").between(64, 127) && col("y").between(64, 127))
      .agg(count(lit(1)).as("true_rows"))
    stats.groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
        sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"))
      .crossJoin(broadcast(truth))
      .select("layout", "n_files", "files_scanned", "rows_scanned", "true_rows")
      .orderBy("layout")
  }

  // ---------------------------------------------------------------------------
  // q197: table profiling — the ANALYZE statistics every optimizer feeds on
  // ---------------------------------------------------------------------------

  /** One-pass column profile of `df` over `cols`: every column's values
    * are string-rendered and stacked into a (col, v) long frame (the
    * UNPIVOT shape — a generated `explode(array(struct...))`, no UDF),
    * then one grouped aggregate per column yields row count, non-null
    * count, EXACT distinct count and the lexicographic min/max of the
    * rendered values. This is the `ANALYZE TABLE ... COMPUTE STATISTICS
    * FOR COLUMNS` payload (null fraction, NDV, extrema) computed as a
    * plain query so the gate can hash it. Scale shape: the expand
    * multiplies rows ×|cols| but stays map-side; the distinct count
    * shuffles on (col, value) with partial aggregation — the same
    * two-phase shape `count(DISTINCT)` always plans — and the final
    * frame is |cols| rows. Lexicographic (not numeric) extrema on the
    * rendered strings are deliberate: one ordering for every type, and
    * both engines compare binary UTF-8 identically. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col"), col(c).cast("string").as("v"))): _*)).as("r"))
      .select(col("r.col").as("col"), col("r.v").as("v"))
      .groupBy("col").agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        count_distinct(col("v")).as("n_distinct"),
        min("v").as("min_s"), max("v").as("max_s"))
      .orderBy("col")

  /** The q197 profile column set — shared with the generated oracle so
    * the two sides cannot drift. `l_shipdate` is pre-rendered to epoch
    * seconds (10-digit strings — lexicographic = numeric there). */
  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus", "ship_es")

  /** q197: the lineitem column profile through [[profile]].
    * `l_shipdate` arrives TIMESTAMP_NTZ from the driver parquet; the
    * double cast is the [[graft.ops.Events.events]] epoch rule (exact
    * under the pinned-UTC session every entry point builds). */
  val q197_table_profile: Q = (s, d) =>
    profile(s.read.parquet(s"$d/lineitem.parquet")
      .withColumn("ship_es", col("l_shipdate")
        .cast(org.apache.spark.sql.types.TimestampType)
        .cast(org.apache.spark.sql.types.LongType)), profileCols)

  val queries: Map[String, Q] = Map(
    "q135_bloom_lookup" -> q135_bloom_lookup,
    "q141_bloom_append" -> q141_bloom_append,
    "q194_zorder_layout" -> q194_zorder_layout,
    "q197_table_profile" -> q197_table_profile)

  val oracle: Map[String, String] = Map(
    // the lookup's answer, stated directly: rows whose fingerprint
    // matches any probed doc's — how the files were found (bloom prune
    // vs full scan) must not change the rows
    "q135_bloom_lookup" -> graft.ops.TextCore.withDocs(
      """SELECT doc_id, md5(norm) AS fingerprint FROM docs
        |WHERE md5(norm) IN (SELECT md5(norm) FROM docs WHERE doc_id < 3)
        |ORDER BY doc_id""".stripMargin),
    // same contract through the append-grown sidecar: the file layout
    // and manifest provenance must not change the rows
    "q141_bloom_append" -> graft.ops.TextCore.withDocs(
      """SELECT doc_id, md5(norm) AS fingerprint FROM docs
        |WHERE md5(norm) IN (SELECT md5(norm) FROM docs WHERE doc_id < 6)
        |ORDER BY doc_id""".stripMargin),
    // the identical layout model stated over the same integer codes —
    // the interleave expression is GENERATED from the one zInterleaveSql
    // definition the Spark side uses (only the div spelling differs)
    "q194_zorder_layout" ->
      s"""WITH e AS (
         |  SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS es
         |  FROM events),
         |b AS (SELECT min(u) AS minu, max(u) AS maxu,
         |             min(es) AS mine, max(es) AS maxe FROM e),
         |z AS (
         |  SELECT x, y, ${zInterleaveSql("x", "y", "//")} AS z
         |  FROM (SELECT ((u - minu) * 256) // (maxu - minu + 1) AS x,
         |               ((es - mine) * 256) // (maxe - mine + 1) AS y
         |        FROM e, b)),
         |f AS (
         |  SELECT 'user_sorted' AS layout, x // 4 AS fid, x, y FROM z
         |  UNION ALL
         |  SELECT 'zorder' AS layout, z // 1024 AS fid, x, y FROM z),
         |st AS (
         |  SELECT layout, fid, min(x) AS lx, max(x) AS hx,
         |         min(y) AS ly, max(y) AS hy, count(*) AS n
         |  FROM f GROUP BY 1, 2),
         |tr AS (SELECT count(*) AS true_rows FROM z
         |       WHERE x BETWEEN 64 AND 127 AND y BETWEEN 64 AND 127)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
         |       CAST(sum(CASE WHEN hx >= 64 AND lx <= 127
         |                      AND hy >= 64 AND ly <= 127
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         |       CAST(sum(CASE WHEN hx >= 64 AND lx <= 127
         |                      AND hy >= 64 AND ly <= 127
         |                     THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
         |       CAST((SELECT true_rows FROM tr) AS BIGINT) AS true_rows
         |FROM st GROUP BY layout ORDER BY layout""".stripMargin,
    // the same UNPIVOT → grouped profile, its long frame GENERATED from
    // the one profileCols list the Spark side stacks
    "q197_table_profile" -> {
      val stacked = profileCols.map { c =>
        val v = if (c == "ship_es")
          "CAST(floor(epoch(l_shipdate)) AS BIGINT)" else c
        s"SELECT '$c' AS col, CAST($v AS VARCHAR) AS v FROM lineitem"
      }.mkString("\n  UNION ALL ")
      s"""WITH long AS (
         |  $stacked)
         |SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(v) AS BIGINT) AS n_nonnull,
         |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
         |       min(v) AS min_s, max(v) AS max_s
         |FROM long GROUP BY col ORDER BY col""".stripMargin
    })
}
