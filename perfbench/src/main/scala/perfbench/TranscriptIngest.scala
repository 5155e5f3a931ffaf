package perfbench

import graft.etl.{DataSkipping, StarBuilder, TextExtract}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** transcript_ingest: the reference's own ETL, with writes beside reads.
  * One op takes one seeded batch of transcript files through
  * `TextExtract.fromBinaryDir` → `quarantine` → `transcriptCourses`, commits
  * the courses as a new snapshot with `StarBuilder.appendTableVersionedStats`
  * (clustered on nrp), applies the retention policy with `vacuumVersions`,
  * and reads one student of the batch back through `readAtPruned`. The
  * warehouse starts empty in every run; every commit copies the prior
  * snapshot, so the op's cost grows with the run: with a fixed op count
  * every run commits the same versions and measures them at the same
  * warehouse sizes. */
final class TranscriptIngest(ctx: Ctx) extends Workload {
  type Out = (Long, Transcripts.Doc, Array[org.apache.spark.sql.Row])
  private val spark = ctx.spark
  private val warehouse = s"${ctx.work}/warehouse"
  private val table = "fact_nilai_mk"
  /** Retention: the newest `keep` snapshots survive each vacuum. */
  val keep = 3
  /** Op latency falls over the first ops of a fresh JVM, most of it in the
    * first two. */
  val warmupOps = 2
  /** One batch per ~1.75 s of `--seconds` (an op's cost on 4 cores). */
  def opsPerRun(seconds: Int): Int = math.max(4, math.round(seconds / 1.75).toInt)

  private val factCols = Seq("nrp", "kode_mk", "nama_mk", "sks", "tahun", "semester",
    "nilai", "tahap", "bobot", "bobot_matkul")

  private var batchNo = 0
  private var docs: IndexedSeq[Transcripts.Doc] = IndexedSeq.empty
  private var batchDir = ""
  private val inputBytes = mutable.ArrayBuffer.empty[Long]
  private var student: Transcripts.Doc = _
  private var version = 0L
  private val probes = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def nextBatch(): Unit = {
    docs = Transcripts.batch(ctx.seed, batchNo)
    batchDir = s"${ctx.work}/batches/b$batchNo"
    inputBytes += Transcripts.write(docs, batchDir)
    val good = docs.filterNot(_.planted)
    student = good(new scala.util.Random(ctx.seed * 31 + batchNo).nextInt(good.size))
    batchNo += 1
  }

  private def courses(raw: DataFrame): (DataFrame, DataFrame) = {
    val (good, bad) = TextExtract.quarantine(raw)
    (TextExtract.transcriptCourses(good).select(factCols.map(col): _*), bad)
  }

  def setup(): Unit = {
    nextBatch()
    val (c, _) = courses(TextExtract.fromBinaryDir(spark, batchDir))
    version = StarBuilder.writeTableVersionedStats(c, warehouse, table, Seq("nrp"), Seq("nrp"))
  }

  override def prepare(i: Int): Unit = nextBatch()

  def run(i: Int): Out = {
    val (c, bad, quarantined) = ctx.layer("extract") {
      val (c, bad) = courses(TextExtract.fromBinaryDir(spark, batchDir))
      (c, bad, bad.count())
    }
    version = ctx.layer("warehouse.commit")(
      StarBuilder.appendTableVersionedStats(c, warehouse, table, Seq("nrp"), Seq("nrp")))
    ctx.layer("warehouse.vacuum")(StarBuilder.vacuumVersions(warehouse, keep))
    val rows = ctx.layer("warehouse.read")(
      StarBuilder.readAtPruned(spark, warehouse, table, "nrp", student.nrp, student.nrp)
        .where(col("nrp") === student.nrp)
        .groupBy("tahun", "semester")
        .agg(sum("bobot_matkul"), sum("sks"), count(lit(1)))
        .collect())
    (quarantined, student, rows)
  }

  /** The quarantine caught exactly the planted documents, and the student
    * read back has the generator's IPS per semester and final IPK. */
  def check(i: Int, out: Out): Boolean = {
    val (quarantined, doc, rows) = out
    val bySem = rows.map(r => (r.getInt(0), r.getString(1)) ->
      (r.getDouble(2), r.getLong(3).toDouble)).toMap
    val ipsOk = doc.semesters.forall { s =>
      bySem.get((s.tahun, s.semester)).exists { case (bm, sks) =>
        Transcripts.round2(bm / sks) == s.ips }
    }
    val ipk = Transcripts.round2(bySem.values.map(_._1).sum / bySem.values.map(_._2).sum)
    quarantined == docs.count(_.planted) && bySem.size == doc.semesters.size &&
      ipsOk && ipk == doc.ipk
  }

  private def tree(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(tree) else Seq(f)

  private def bytes(dir: String): Long = tree(new java.io.File(dir)).map(_.length).sum

  override def probe(i: Int): Unit = {
    val root = s"$warehouse/v=$version"
    val tableDir = s"$root/$table"
    val dataFiles = tree(new java.io.File(tableDir))
      .count(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_idx/"))
    val kept = DataSkipping.prunedFiles(spark, tableDir, "nrp", student.nrp, student.nrp).size
    val good = docs.filterNot(_.planted)
    val goodDocs = spark.createDataFrame(good.map(d => (d.name, d.text))).toDF("path", "text")
    val extracted = TextExtract.transcriptCourses(goodDocs).count()
    probes += Map(
      "copied" -> bytes(s"$warehouse/v=${version - 1}").toDouble,
      "written" -> bytes(root).toDouble,
      "input" -> inputBytes.last.toDouble,
      "files" -> tree(new java.io.File(root)).size.toDouble,
      "kept_ratio" -> kept.toDouble / dataFiles,
      "courses_per_doc" -> extracted.toDouble / good.size,
      "quarantine_ratio" -> docs.count(_.planted).toDouble / docs.size,
      "rows_returned" -> student.courses.size.toDouble)
  }

  override def extraMetrics(ops: Seq[Main.Op], busyS: Double): Seq[Metric] = Seq(
    Metric("docs_per_s", ops.length * Transcripts.docsPerBatch / busyS, "1/s"),
    Metric("stored_bytes_per_input_byte", bytes(warehouse).toDouble / inputBytes.sum, "ratio"))

  override def layerMetrics(ops: Seq[Main.Op]): Seq[Metric] = {
    val t = ctx.tracer
    def p(k: String) = probes.map(_(k)).toSeq
    val readRecords = ctx.layerCounts("warehouse.read").inputRecords.toDouble
    Seq(
      Metric("extract.ms_p50", Stats.median(t.ms("extract")), "ms", "docs_per_s"),
      Metric("extract.courses_per_doc", Stats.mean(p("courses_per_doc")), "count", "docs_per_s"),
      Metric("extract.quarantine_ratio", Stats.mean(p("quarantine_ratio")), "ratio", "failed_ratio"),
      Metric("warehouse.commit_ms_p50", Stats.median(t.ms("warehouse.commit")), "ms", "op_p50_ms"),
      Metric("warehouse.commit_ms_tail", Stats.tail(t.ms("warehouse.commit")).map(_._2)
        .getOrElse(t.ms("warehouse.commit").max), "ms", "op_tail_ms"),
      Metric("warehouse.copied_bytes_per_commit", Stats.mean(p("copied")), "bytes", "op_tail_ms"),
      Metric("warehouse.write_amp", Stats.mean(probes.map(m => m("written") / m("input")).toSeq),
        "ratio", "stored_bytes_per_input_byte"),
      Metric("warehouse.files_per_version", Stats.mean(p("files")), "count", "op_p50_ms"),
      Metric("warehouse.vacuum_ms_p50", Stats.median(t.ms("warehouse.vacuum")), "ms", "op_p50_ms"),
      Metric("warehouse.read_ms_p50", Stats.median(t.ms("warehouse.read")), "ms", "op_p50_ms"),
      Metric("skipping.files_kept_ratio", Stats.mean(p("kept_ratio")), "ratio", "op_p50_ms"),
      Metric("skipping.rows_read_per_row_returned", readRecords / p("rows_returned").sum,
        "ratio", "op_p50_ms"))
  }

  override def info: Seq[Metric] = Seq(
    Metric("input.docs_per_batch", Transcripts.docsPerBatch.toDouble, "count"),
    Metric("input.bytes_per_batch", Stats.mean(inputBytes.map(_.toDouble).toSeq), "bytes"),
    Metric("warehouse.keep_versions", keep.toDouble, "count"),
    Metric("warehouse.final_version", version.toDouble, "count"))
}
