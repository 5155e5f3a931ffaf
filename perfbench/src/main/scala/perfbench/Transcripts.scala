package perfbench

import java.util.{Locale, SplittableRandom}

/** Seeded transcript batches in the reference's text grammar (FIXTURES.md
  * §1, the extraction regexes of ETL_FINAL.py:149-190). A batch is
  * [[docsPerBatch]] documents, like the reference corpus, of which
  * [[plantedPerBatch]] carry a header the NRP/Nama pattern misses (the
  * reference's four [GAGAL] files). For every well-formed document the
  * generator also returns the expected semester GPA (IPS) and cumulative GPA
  * (IPK) per semester, by the reference formulas (etl_2fact.py:228-235)
  * with the program's round2 rounding (floor(x * 100 + 0.5) / 100). */
object Transcripts {
  val docsPerBatch = 41
  val plantedPerBatch = 4

  val gradeWeights: Map[String, Double] = Map(
    "A" -> 4.0, "AB" -> 3.5, "B" -> 3.0, "BC" -> 2.5, "C" -> 2.0, "D" -> 1.0, "E" -> 0.0)
  private val grades = IndexedSeq("A", "A", "AB", "AB", "B", "B", "BC", "C", "D", "E")

  final case class Course(kode: String, nama: String, sks: Int, tahun: Int,
      gasal: Boolean, kelas: String, nilai: String) {
    def semester: String = if (gasal) "Gasal" else "Genap"
    def line: String =
      s"$kode $nama $sks $tahun/${if (gasal) "Gs" else "Gn"}/$kelas $nilai"
  }

  /** (tahun, semester, ips, ipk) in chronological order. */
  final case class Semester(tahun: Int, semester: String, ips: Double, ipk: Double)

  final case class Doc(name: String, text: String, nrp: String, planted: Boolean,
      courses: Seq[Course], semesters: Seq[Semester]) {
    def ipk: Double = semesters.last.ipk
  }

  def round2(x: Double): Double = math.floor(x * 100 + 0.5) / 100

  private def fmt2(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))

  /** IPS per semester and cumulative IPK, Gasal before Genap within a year. */
  def semesters(courses: Seq[Course]): Seq[Semester] = {
    val bySem = courses.groupBy(c => (c.tahun, c.semester)).toSeq.sortBy(_._1)
    var cumBm = 0.0
    var cumSks = 0.0
    bySem.map { case ((tahun, sem), cs) =>
      val bm = cs.map(c => c.sks * gradeWeights(c.nilai)).sum
      val sks = cs.map(_.sks.toDouble).sum
      cumBm += bm
      cumSks += sks
      Semester(tahun, sem, round2(bm / sks), round2(cumBm / cumSks))
    }
  }

  private val firstNames = IndexedSeq("Kevin", "Ayu", "Budi", "Citra", "Dewi", "Eko",
    "Fajar", "Gita", "Hadi", "Indah", "Joko", "Kartika", "Lestari", "Made", "Nur",
    "Putri", "Rizky", "Sari", "Taufik", "Wulan")
  private val lastNames = IndexedSeq("Nathanael", "Pratama", "Saputra", "Wijaya",
    "Kusuma", "Hidayat", "Santoso", "Lubis", "Siregar", "Nugroho", "Halim", "Utami")
  private val courseWords = IndexedSeq("Kalkulus", "Basis Data", "Sistem Informasi",
    "Pemrograman", "Struktur Data", "Statistika", "Jaringan Komputer",
    "Sistem Operasi", "Aljabar Linier", "Fisika", "Kimia", "Manajemen Proyek",
    "Analisis Desain", "Keamanan Informasi", "Kecerdasan Buatan", "Etika Profesi",
    "Bahasa Inggris", "Kewarganegaraan", "Interaksi Manusia", "Data Mining")
  private val depts = IndexedSeq("ES", "EE", "SM")

  /** Header variants whose NRP/Nama pattern misses (each keeps the rest of
    * the grammar intact, so only the quarantine rule can reject them). */
  private def brokenHeader(kind: Int, nrp: String, nama: String, tempuh: Int, lulus: Int): String =
    kind match {
      case 0 => s"NIM / Nama $nrp / $nama SKS Tempuh / SKS Lulus $tempuh / $lulus"
      case 1 => s"NRP / Nama - / $nama SKS Tempuh / SKS Lulus $tempuh / $lulus"
      case 2 => s"NRP Nama $nrp $nama SKS Tempuh / SKS Lulus $tempuh / $lulus"
      case _ => s"NRP / Nama $nrp / $nama SKS Ditempuh $tempuh / Lulus $lulus"
    }

  /** The `batch`-th batch for `seed`: deterministic in (seed, batch). NRPs
    * are unique per (seed, batch, doc) and contiguous within a batch, like
    * a cohort's registration numbers. */
  def batch(seed: Long, batch: Int): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed * 1000003L + batch)
    val planted = {
      val idx = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (idx.size < plantedPerBatch) idx += rnd.nextInt(docsPerBatch)
      idx.toSet
    }
    (0 until docsPerBatch).map { d =>
      val nrp = f"5${math.floorMod(seed, 1000L)}%03d${batch % 100000}%05d$d%02d"
      val nama = s"${firstNames(rnd.nextInt(firstNames.size))} ${lastNames(rnd.nextInt(lastNames.size))}"
      val entry = 2018 + rnd.nextInt(5)
      val nSem = 2 + rnd.nextInt(7)
      // the first two semesters are the preparation stage (Tahap Persiapan)
      val perSem = (0 until nSem).map { k =>
        val tahun = entry + k / 2
        val gasal = k % 2 == 0
        k -> (0 until 3 + rnd.nextInt(5)).map { _ =>
          Course(
            kode = f"${depts(rnd.nextInt(depts.size))}${100000 + rnd.nextInt(900000)}%06d",
            nama = courseWords(rnd.nextInt(courseWords.size)),
            sks = 1 + rnd.nextInt(4),
            tahun = tahun, gasal = gasal,
            kelas = IndexedSeq("A", "B", "C", "IU", "")(rnd.nextInt(5)),
            nilai = grades(rnd.nextInt(grades.size)))
        }
      }
      val courses = perSem.flatMap(_._2)
      val prep = perSem.filter(_._1 < 2).flatMap(_._2)
      val major = perSem.filter(_._1 >= 2).flatMap(_._2)
      val sems = semesters(courses)
      val tempuh = courses.map(_.sks).sum
      val lulus = courses.filter(c => gradeWeights(c.nilai) >= 2.0).map(_.sks).sum
      def stageGpa(cs: Seq[Course]): Double =
        if (cs.isEmpty) 0.0
        else round2(cs.map(c => c.sks * gradeWeights(c.nilai)).sum / cs.map(_.sks).sum)
      val isPlanted = planted(d)
      val header =
        if (isPlanted) brokenHeader(rnd.nextInt(4), nrp, nama, tempuh, lulus)
        else s"NRP / Nama $nrp / $nama SKS Tempuh / SKS Lulus $tempuh / $lulus"
      val text = (Seq(
        header,
        s"IPK ${fmt2(sems.last.ipk)}",
        s"Status ${if (rnd.nextInt(10) == 0) "Cuti" else "Aktif"} ---",
        "Tahap: Persiapan") ++
        prep.map(_.line) ++ Seq(
        s"Total Sks Tahap Persiapan : ${prep.map(_.sks).sum}",
        s"IP Tahap Persiapan : ${fmt2(stageGpa(prep))}",
        "Tahap: Sarjana") ++
        major.map(_.line) ++ Seq(
        s"Total Sks Tahap Sarjana : ${major.map(_.sks).sum}",
        s"IP Tahap Sarjana : ${fmt2(stageGpa(major))}")).mkString("\n") + "\n"
      Doc(f"transcript_$d%02d.txt", text, nrp, isPlanted, courses, sems)
    }
  }

  /** Write a batch's documents as text files under `dir`; returns the bytes
    * written. */
  def write(docs: Seq[Doc], dir: String): Long = {
    val d = new java.io.File(dir)
    d.mkdirs()
    docs.map { doc =>
      val bytes = doc.text.getBytes("UTF-8")
      java.nio.file.Files.write(new java.io.File(d, doc.name).toPath, bytes)
      bytes.length.toLong
    }.sum
  }
}
